"""Golden-behavior tests for the round-10 growth batch: properties the
oracle-parity sweep can't see — BFS level consistency, the sliding-HLL
merge==direct invariant, WordPiece's likelihood selection rule beating
raw counts, absolute-discounting probability mass, pHash DCT
correctness against an independent NumPy transform, and shallow-clone
isolation/CAS semantics."""

from __future__ import annotations

import math
import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from velib_lakehouse_spark import registry
from velib_lakehouse_spark.catalog import load_table
from tests.conftest import SF_DIR

DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _corpus_dir(spark, corpus, tmp: str) -> str:
    corpus.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        os.symlink(f"{SF_DIR}/{t}.parquet", os.path.join(tmp, f"{t}.parquet"))
    return tmp


# ---- bfs_hop_levels ----------------------------------------------------------


def test_bfs_levels_are_consistent(spark):
    """Seeds sit at level 0; every level-L node (L > 0) has an in-edge
    from some level-(L-1) node; no reachable-within-hops node is
    missed (frontier completeness)."""
    from velib_lakehouse_spark.operators.graph import (
        BFS_MAX_HOPS,
        BFS_SEED_MOD,
        _edges,
    )

    rows = registry.QUERIES["bfs_hop_levels"](spark, SF_DIR).collect()
    level = {r["node"]: r["level"] for r in rows}
    assert rows
    edges = [(r["a"], r["b"]) for r in _edges(spark, SF_DIR).collect()]
    for node, lv in level.items():
        if node % BFS_SEED_MOD == 0:
            assert lv == 0, f"seed {node} at level {lv}"
    preds = {}
    for a, b in edges:
        preds.setdefault(b, set()).add(a)
    for node, lv in level.items():
        if lv > 0:
            assert any(level.get(p) == lv - 1 for p in preds.get(node, ())), (
                node,
                lv,
            )
        if lv == -1:
            # unreachable within the hop budget: no predecessor may sit
            # at a level that would have expanded into this node
            assert not any(
                0 <= level.get(p, -1) < BFS_MAX_HOPS
                for p in preds.get(node, ())
            ), node


# ---- hll_sliding_distinct ----------------------------------------------------


def test_hll_sliding_merge_equals_direct(spark):
    """The windowed register merge must equal a sketch built DIRECTLY
    from the union of the window's days — the mergeability invariant
    that justifies materializing per-day registers at 100 TB."""
    from velib_lakehouse_spark.functions.hashing import md5_long
    from velib_lakehouse_spark.operators.sketches import (
        HLL_M,
        HLL_SLIDE_DAY_MS,
        HLL_SLIDE_WINDOW_DAYS,
    )

    out = {
        r["day"]: r["harmonic_scaled"]
        for r in registry.QUERIES["hll_sliding_distinct"](
            spark, SF_DIR
        ).collect()
    }
    assert out
    ev = load_table(spark, SF_DIR, "events").select(
        F.expr(f"unix_millis(ts) div {HLL_SLIDE_DAY_MS}").alias("day"),
        F.col("user_id").cast("bigint").alias("u"),
    )
    pairs = [(r["day"], r["u"]) for r in ev.distinct().collect()]
    days = sorted({d for d, _ in pairs})
    for day in days:
        window_users = {
            u
            for d, u in pairs
            if day - (HLL_SLIDE_WINDOW_DAYS - 1) <= d <= day
        }
        direct = (
            spark.createDataFrame(
                [(u,) for u in sorted(window_users)], "u bigint"
            )
            .select(md5_long(F.col("u").cast("string")).alias("h"))
            .select(
                (F.col("h") % HLL_M).alias("bucket"),
                F.expr(
                    f"""CASE WHEN (h div {HLL_M}) = 0 THEN 57
                        ELSE 57 - length(bin(h div {HLL_M})) END"""
                ).alias("rho"),
            )
            .groupBy("bucket")
            .agg(F.max("rho").alias("r"))
            .collect()
        )
        regs = {r["bucket"]: r["r"] for r in direct}
        harmonic = sum(
            1 << (57 - regs.get(b, 0)) for b in range(HLL_M)
        )
        assert harmonic == out[day], f"day {day}"


# ---- wordpiece_train_merges --------------------------------------------------


def test_wordpiece_prefers_exclusive_pairs(spark):
    """The likelihood score must pick a rarer-but-exclusive pair over
    the highest-count pair built from promiscuous symbols — the
    selection-rule difference from BPE, pinned on a corpus constructed
    so the two rules provably disagree."""
    from velib_lakehouse_spark.operators.text import WP_SCORE_SCALE

    # 'ab' appears 30x but a and b are everywhere (also separately in
    # 'axb' words); 'qz' appears 8x and q/z appear nowhere else.
    words = ["ab"] * 30 + ["axbx"] * 40 + ["bxax"] * 40 + ["qz"] * 8
    corpus = spark.createDataFrame(
        [(i, w, "en", "s", len(w)) for i, w in enumerate(" ".join(words).split())],
        DOC_SCHEMA,
    )
    with tempfile.TemporaryDirectory() as tmp:
        sf = _corpus_dir(spark, corpus, tmp)
        rows = registry.QUERIES["wordpiece_train_merges"](spark, sf).collect()
    assert rows
    first = rows[0]
    assert (first["left_sym"], first["right_sym"]) == ("q", "z"), first
    # BPE's raw-count rule would NOT have picked qz first
    from collections import Counter

    pair_counts = Counter()
    for w in words:
        for i in range(len(w) - 1):
            pair_counts[(w[i], w[i + 1])] += 1
    top_by_count = max(pair_counts.items(), key=lambda kv: kv[1])[0]
    assert top_by_count != ("q", "z")
    # and the recorded integer score matches the published formula
    sym_counts = Counter(c for w in words for c in w)
    exp = (
        pair_counts[("q", "z")]
        * WP_SCORE_SCALE
        // (sym_counts["q"] * sym_counts["z"])
    )
    assert first["score"] == exp


# ---- bigram_perplexity_filter ------------------------------------------------


def test_absolute_discounting_mass_and_hand_check(spark):
    """P(w|v) summed over the OBSERVED successors of v must stay < 1
    (the discount holds back mass for unseen successors), and a
    two-document hand computation reproduces the operator's NLL."""
    from velib_lakehouse_spark.operators.text import LM_QUANT

    corpus = spark.createDataFrame(
        [
            (0, "a b a b a c", "en", "s", 11),
            (1, "a b x y", "en", "s", 7),
        ],
        DOC_SCHEMA,
    )
    with tempfile.TemporaryDirectory() as tmp:
        sf = _corpus_dir(spark, corpus, tmp)
        rows = {
            r["doc_id"]: r
            for r in registry.QUERIES["bigram_perplexity_filter"](
                spark, sf
            ).collect()
        }
    docs = ["a b a b a c".split(), "a b x y".split()]
    from collections import Counter

    big = Counter()
    uni = Counter()
    for ws in docs:
        uni.update(ws)
        big.update(zip(ws, ws[1:]))
    total = sum(uni.values())
    ctx = Counter()
    n1 = Counter()
    for (v, w), c in big.items():
        ctx[v] += c
        n1[v] += 1
    # held-back mass: sum over observed w of P(w|v) < 1 for every v
    for v in ctx:
        s = sum(
            ((4 * big[(v, w)] - 3) * total + 3 * n1[v] * uni[w])
            / (4 * ctx[v] * total)
            for (vv, w) in big
            if vv == v
        )
        assert s < 1.0, (v, s)
    for doc_id, ws in enumerate(docs):
        costs = [
            math.floor(
                -math.log(
                    ((4 * big[(v, w)] - 3) * total + 3 * n1[v] * uni[w])
                    / (4 * ctx[v] * total)
                )
                * LM_QUANT
            )
            for v, w in zip(ws, ws[1:])
        ]
        r = rows[doc_id]
        assert r["n_bigrams"] == len(costs)
        assert r["sum_cost_micro"] == sum(costs)


# ---- multimodal_image_phash_neardup -----------------------------------------


def test_phash_dct_matches_numpy(spark):
    """The relational two-pass DCT must equal an independent NumPy
    matrix product with the same quantized cosine table, for the
    fingerprint of a synthetic image."""
    from velib_lakehouse_spark.operators.multimodal import (
        PHASH_K,
        PHASH_N,
        _PHASH_COS,
    )

    n_cells = PHASH_N * PHASH_N
    text = "".join(chr(32 + ((i * 7) % 90)) for i in range(n_cells))
    corpus = spark.createDataFrame(
        [(0, text, "en", "s", len(text)), (1, text, "en", "s", len(text))],
        DOC_SCHEMA,
    )
    # expected bits via numpy
    pix = np.array(
        [ord(text[i * len(text) // n_cells]) for i in range(n_cells)],
        dtype=np.int64,
    ).reshape(PHASH_N, PHASH_N)
    cos = np.array(_PHASH_COS, dtype=np.int64)  # (K, N)
    coeff = (cos @ pix @ cos.T).reshape(-1)  # (K*K,)
    med = np.sort(coeff)[32]
    exp_bits = "".join("1" if x > med else "0" for x in coeff)
    with tempfile.TemporaryDirectory() as tmp:
        sf = _corpus_dir(spark, corpus, tmp)
        out = registry.QUERIES["multimodal_image_phash_neardup"](
            spark, sf
        ).collect()
        # byte-identical docs collapse into ONE class: no self-pair
        assert out == []
        # the engine's fingerprint must equal the NumPy-derived bits
        from velib_lakehouse_spark.operators.multimodal import _phash_bits

        d = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        got = {r["bits"] for r in _phash_bits(spark, d).collect()}
    assert got == {exp_bits}
    assert exp_bits.count("1") >= 1 and exp_bits.count("0") >= 1


def test_phash_near_identical_docs_pair_up(spark):
    """Two long documents differing in a few characters land within
    the Hamming cutoff and emerge as a near-dup pair; an unrelated
    document does not."""
    from velib_lakehouse_spark.operators.multimodal import PHASH_N

    n_cells = PHASH_N * PHASH_N
    base = "".join(chr(32 + ((i * 11) % 90)) for i in range(n_cells))
    # every 51st char replaced: flips a few near-threshold DCT bits
    # (hamming 12 <= cutoff, 2 of 8 bands intact) without collapsing
    # to the identical-fingerprint class like a 1-char edit would
    near = "".join(
        "#" if (i % (n_cells // 5)) == 0 else c for i, c in enumerate(base)
    )
    other = "".join(chr(32 + ((i * 37 + 13) % 90)) for i in range(n_cells))
    corpus = spark.createDataFrame(
        [
            (0, base, "en", "s", len(base)),
            (1, near, "en", "s", len(near)),
            (2, other, "en", "s", len(other)),
        ],
        DOC_SCHEMA,
    )
    with tempfile.TemporaryDirectory() as tmp:
        sf = _corpus_dir(spark, corpus, tmp)
        out = registry.QUERIES["multimodal_image_phash_neardup"](
            spark, sf
        ).collect()
    pairs = {(r["rep_a"], r["rep_b"]) for r in out}
    assert (0, 1) in pairs
    assert not any(2 in p for p in pairs)


# ---- shallow clone -----------------------------------------------------------


def test_shallow_clone_isolation_and_cas(spark, tmp_path_factory):
    """Clone pins the source version (later source deletes invisible);
    clone writes never reach the source; a second clone into the same
    target loses the v0 CAS."""
    from velib_lakehouse_spark.sources import snapshots as snap
    from velib_lakehouse_spark.sources.lake import shallow_clone

    schema = "k bigint, p string"
    src = str(tmp_path_factory.mktemp("t_scl_src"))
    dst = str(tmp_path_factory.mktemp("t_scl_dst"))
    df = spark.createDataFrame(
        [(i, "x" if i % 2 == 0 else "y") for i in range(10)], schema
    )
    snap.optimistic_commit(
        src, "overwrite", None, "base",
        lambda rv: (snap.stage_partition_files(df, src, "b1", "p"), []),
    )
    entry = shallow_clone(src, dst)
    assert entry["version"] == 0 and entry["action"] == "clone"
    # racing second clone loses the CAS
    with pytest.raises(FileExistsError):
        shallow_clone(src, dst)
    # source diverges: delete partition x
    def stage_del(rv):
        kept = snap.read_table(spark, src, schema, version=rv).filter(
            F.col("p") != "x"
        )
        adds = snap.stage_partition_files(kept, src, "d1", "p")
        return adds, snap.live_files(src, rv)
    snap.optimistic_commit(src, "delete", None, "del", stage_del)
    # clone diverges: append new rows
    extra = spark.createDataFrame([(100, "z")], schema)
    snap.optimistic_commit(
        dst, "append", {"z"}, "capp",
        lambda rv: (snap.stage_partition_files(extra, dst, "a1", "p"), []),
    )
    src_rows = {
        (r["k"], r["p"])
        for r in snap.read_table(spark, src, schema).collect()
    }
    dst_rows = {
        (r["k"], r["p"])
        for r in snap.read_table(spark, dst, schema).collect()
    }
    assert all(p != "x" for _, p in src_rows)  # delete applied
    assert (100, "z") not in src_rows  # clone append isolated
    assert {(k, p) for k, p in dst_rows if p == "x"}  # pre-delete rows live
    assert (100, "z") in dst_rows


def test_shallow_clone_requires_empty_target_and_committed_source(spark, tmp_path_factory):
    from velib_lakehouse_spark.sources.lake import shallow_clone

    empty_src = str(tmp_path_factory.mktemp("t_scl_esrc"))
    dst = str(tmp_path_factory.mktemp("t_scl_edst"))
    with pytest.raises(FileNotFoundError):
        shallow_clone(empty_src, dst)


# ---- connected_components_star ----------------------------------------------


def test_cc_star_matches_union_find(spark):
    """When the audit column reports convergence, the labeling must
    equal true connected components (independent union-find)."""
    from velib_lakehouse_spark.operators.graph import _edges

    rows = registry.QUERIES["connected_components_star"](
        spark, SF_DIR
    ).collect()
    assert rows
    assert all(r["is_root_label"] == 1 for r in rows), "did not converge"
    label = {r["node"]: r["component"] for r in rows}
    edges = [
        (r["a"], r["b"])
        for r in _edges(spark, SF_DIR).filter(F.col("a") < F.col("b")).collect()
    ]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    true_comp = {n: find(n) for n in label}
    # same partition: two nodes share a label iff they share a root
    assert label.keys() == true_comp.keys()
    for n in label:
        assert (label[n] == label[true_comp[n]]) and (
            true_comp[n] == true_comp[label[n]]
        ), n
    # and the chosen label is the component minimum (star root)
    comp_min: dict[int, int] = {}
    for n, r in true_comp.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    for n in label:
        assert label[n] == comp_min[true_comp[n]], n


# ---- vacuum_data -------------------------------------------------------------


def test_vacuum_data_reclaims_and_breaks_time_travel(spark, tmp_path):
    from velib_lakehouse_spark.sources import snapshots as snap

    schema = "k bigint, p string"
    tbl = str(tmp_path)
    v0 = spark.createDataFrame([(1, "x"), (2, "y")], schema)
    snap.optimistic_commit(
        tbl, "overwrite", None, "base",
        lambda rv: (snap.stage_partition_files(v0, tbl, "b1", "p"), []),
    )
    # v1: overwrite with fresh files (v0's become unreachable from head)
    v1 = spark.createDataFrame([(3, "x"), (4, "y")], schema)
    snap.optimistic_commit(
        tbl, "overwrite", None, "ow",
        lambda rv: (snap.stage_partition_files(v1, tbl, "b2", "p"), []),
    )
    assert snap.read_table(spark, tbl, schema, version=0).count() == 2
    res = snap.vacuum_data(tbl, keep_last=1)
    assert res["removed"] == 1 and res["kept"] == 1
    # head still reads
    assert {
        r["k"] for r in snap.read_table(spark, tbl, schema).collect()
    } == {3, 4}
    # time travel below the horizon dies at read time
    with pytest.raises(Exception):
        snap.read_table(spark, tbl, schema, version=0).collect()


def test_vacuum_on_source_breaks_shallow_clone(spark, tmp_path_factory):
    """The documented CLONE hazard: vacuuming the source after it has
    rewritten the cloned files kills the clone's reads, loudly."""
    from velib_lakehouse_spark.sources import snapshots as snap
    from velib_lakehouse_spark.sources.lake import shallow_clone

    schema = "k bigint, p string"
    src = str(tmp_path_factory.mktemp("t_vac_src"))
    dst = str(tmp_path_factory.mktemp("t_vac_dst"))
    df = spark.createDataFrame([(1, "x"), (2, "y")], schema)
    snap.optimistic_commit(
        src, "overwrite", None, "base",
        lambda rv: (snap.stage_partition_files(df, src, "b1", "p"), []),
    )
    shallow_clone(src, dst)
    assert snap.read_table(spark, dst, schema).count() == 2
    # source rewrites everything, then vacuums its old bytes
    df2 = spark.createDataFrame([(9, "x")], schema)
    snap.optimistic_commit(
        src, "overwrite", None, "ow",
        lambda rv: (snap.stage_partition_files(df2, src, "b2", "p"), []),
    )
    snap.vacuum_data(src, keep_last=1)
    with pytest.raises(Exception):
        snap.read_table(spark, dst, schema).collect()
