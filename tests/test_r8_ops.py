"""Golden-behavior tests for the round-8 operators: properties the
oracle-parity sweep can't see (the weighted-Jaccard estimator recomputed
against brute-force capped-TF arithmetic, theta-sketch estimator error
bounds and non-negativity, graph-ANN beam recall floors, the compaction
rewrite physically reducing files while preserving checksums)."""

from __future__ import annotations

import collections
import hashlib

from pyspark.sql import functions as F

from velib_lakehouse_spark import registry
from velib_lakehouse_spark.catalog import load_table
from tests.conftest import SF_DIR


# ---- dedup_weighted_minhash -------------------------------------------------


def _capped_tf(text: str, cap: int) -> dict[str, int]:
    c = collections.Counter(w for w in text.split(" ") if w)
    return {t: min(n, cap) for t, n in c.items()}


def test_weighted_minhash_exact_side_matches_bruteforce(spark):
    """wjaccard_ppm must equal the brute-force capped-TF weighted
    Jaccard sum(min)/sum(max) recomputed in plain Python."""
    from velib_lakehouse_spark.operators.dedup import WMH_TF_CAP

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_DIR, "documents").collect()
    }
    rows = registry.QUERIES["dedup_weighted_minhash"](spark, SF_DIR).collect()
    assert rows
    for r in rows[:200]:
        ta = _capped_tf(docs[r["doc_a"]], WMH_TF_CAP)
        tb = _capped_tf(docs[r["doc_b"]], WMH_TF_CAP)
        wmin = sum(min(v, tb.get(t, 0)) for t, v in ta.items())
        wmax = sum(ta.values()) + sum(tb.values()) - wmin
        assert r["wjaccard_ppm"] == (wmin * 1_000_000) // wmax
        assert r["err_ppm"] == abs(r["est_ppm"] - r["wjaccard_ppm"])


def test_weighted_minhash_exact_copies_are_constants(spark):
    """Byte-identical texts must pair with est = exact = 1e6, err 0,
    all bands matching — the reflexive-join expansion contract.  The
    sf0.001 fixture has no byte-identical pair, so plant copies."""
    import os
    import tempfile

    from velib_lakehouse_spark.operators.dedup import (
        WMH_BAND_ROWS,
        WMH_K,
        dedup_weighted_minhash,
    )

    d = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 40)
    corpus = d.unionByName(
        d.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
    )
    with tempfile.TemporaryDirectory() as tmp:
        corpus.write.mode("overwrite").parquet(
            os.path.join(tmp, "documents.parquet")
        )
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"):
            os.symlink(f"{SF_DIR}/{t}.parquet", os.path.join(tmp, f"{t}.parquet"))
        rows = dedup_weighted_minhash(spark, tmp).collect()
    dup_pairs = [
        r for r in rows if r["doc_b"] - r["doc_a"] == 100000
    ]
    assert len(dup_pairs) == 40, "every planted copy must pair with its original"
    for r in dup_pairs:
        assert r["n_bands"] == WMH_K // WMH_BAND_ROWS
        assert r["est_ppm"] == 1_000_000
        assert r["wjaccard_ppm"] == 1_000_000
        assert r["err_ppm"] == 0


def test_weighted_minhash_weighting_separates_frequency_skew(spark):
    """The weighted estimator's whole reason to exist: two docs with the
    SAME vocabulary at very different frequencies must score a weighted
    Jaccard well below 1.0 (set Jaccard would be exactly 1.0)."""
    import os
    import tempfile

    from velib_lakehouse_spark.operators.dedup import dedup_weighted_minhash

    a = "alpha beta gamma delta"
    b = "alpha " * 8 + "beta gamma delta"
    corpus = spark.createDataFrame(
        [(1, a.strip(), "en", "s", len(a)), (2, b.strip(), "en", "s", len(b))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as tmp:
        corpus.write.mode("overwrite").parquet(
            os.path.join(tmp, "documents.parquet")
        )
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"):
            os.symlink(f"{SF_DIR}/{t}.parquet", os.path.join(tmp, f"{t}.parquet"))
        rows = dedup_weighted_minhash(spark, tmp).collect()
    pair = [r for r in rows if (r["doc_a"], r["doc_b"]) == (1, 2)]
    if pair:  # pair only exists if a band collided — if so, audit it
        # weights: min-sum 4, max-sum 11 -> 363636 ppm
        assert pair[0]["wjaccard_ppm"] == (4 * 1_000_000) // 11


def test_weighted_minhash_estimator_tracks_exact(spark):
    """In the near-dup regime the op targets (exact weighted Jaccard
    >= 0.8) the estimator must track tightly: conditioning on an
    8-row band match barely biases pairs that genuinely agree on most
    positions, so mean |est - exact| sits well inside one K=16
    standard error (sqrt(J(1-J)/16) <= 0.125).  Below the banding
    threshold, surviving candidates exist BECAUSE 8 consecutive
    positions matched — selection inflates est upward there by
    design (measured +0.21e6 ppm mean signed) — so the low tier gets
    only a sanity ceiling, not a tightness bound."""
    rows = registry.QUERIES["dedup_weighted_minhash"](spark, SF_DIR).collect()
    hi = [r for r in rows if r["wjaccard_ppm"] >= 800_000]
    assert hi, "fixture has no near-dup-regime candidate pair"
    hi_err = sum(r["err_ppm"] for r in hi) / len(hi)
    assert hi_err < 100_000, f"near-dup tier mean |err| {hi_err} ppm"
    mean_err = sum(r["err_ppm"] for r in rows) / len(rows)
    assert mean_err < 300_000, f"overall mean |err| {mean_err} ppm"


# ---- theta_sketch_set_algebra -----------------------------------------------


def test_theta_estimates_nonnegative_and_consistent(spark):
    """Every estimate is >= 0 (the property HLL inclusion-exclusion
    lacks) and the union estimate equals the sum of its three disjoint
    parts by construction."""
    rows = registry.QUERIES["theta_sketch_set_algebra"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        for c in ("est_a", "est_b", "est_union", "est_inter",
                  "est_anotb", "est_bnota"):
            assert r[c] >= 0, f"{c} negative: {r}"
        assert r["est_union"] == r["est_inter"] + r["est_anotb"] + r["est_bnota"]


def test_theta_sketch_saturates_and_bounds_error(spark):
    """The shingle universe must push every source past K (otherwise the
    op degenerates to exact mode and audits nothing), and the relative
    error of the intersection estimate must sit inside ~4/sqrt(K-1)
    on average (KMV std error ~ 1/sqrt(K-1) ~ 12.6% at K=64)."""
    from velib_lakehouse_spark.operators.sketches import THETA_SPACE

    rows = registry.QUERIES["theta_sketch_set_algebra"](spark, SF_DIR).collect()
    assert all(r["theta"] < THETA_SPACE for r in rows), "sketch never saturated"
    rel = [
        abs(r["est_inter"] - r["exact_inter"]) / r["exact_inter"]
        for r in rows
        if r["exact_inter"] > 0
    ]
    assert rel, "no pair with positive exact intersection"
    assert sum(rel) / len(rel) < 0.5, f"mean rel err {sum(rel)/len(rel):.3f}"


def test_theta_sketch_matches_bruteforce_kmv(spark):
    """Recompute one pair's sketch estimate from the raw shingle hashes
    in plain Python (bottom-K, common theta, sample intersection)."""
    from velib_lakehouse_spark.operators.sketches import THETA_K, THETA_SPACE

    d = load_table(spark, SF_DIR, "documents").collect()
    by_source: dict[str, set[int]] = {}
    for r in d:
        w = [x for x in r["text"].split(" ") if x]
        if len(w) < 3:
            continue
        hs = by_source.setdefault(r["source"], set())
        for i in range(len(w) - 2):
            sh = " ".join(w[i : i + 3])
            h = int(hashlib.md5(sh.encode()).hexdigest()[:15], 16) >> 15
            hs.add(h)
    rows = registry.QUERIES["theta_sketch_set_algebra"](spark, SF_DIR).collect()
    checked = 0
    for r in rows[:20]:
        sa = sorted(by_source[r["source_a"]])
        sb = sorted(by_source[r["source_b"]])

        def sketch(s):
            if len(s) >= THETA_K:
                return s[THETA_K - 1], set(s[: THETA_K - 1])
            return THETA_SPACE, set(s)

        tha, pa = sketch(sa)
        thb, pb = sketch(sb)
        th = min(tha, thb)
        ap = {x for x in pa if x < th}
        bp = {x for x in pb if x < th}
        n_inter = len(ap & bp)
        assert r["theta"] == th
        assert r["est_inter"] == n_inter * THETA_SPACE // th
        assert r["exact_inter"] == len(
            by_source[r["source_a"]] & by_source[r["source_b"]]
        )
        checked += 1
    assert checked


# ---- ann_graph_beam_audit ---------------------------------------------------


def test_graph_beam_output_shape_and_ordering(spark):
    from velib_lakehouse_spark.operators.similarity import N_QUERIES, TOP_K

    rows = registry.QUERIES["ann_graph_beam_audit"](spark, SF_DIR).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["q_vec_id"], []).append(r)
    assert set(by_q) == set(range(N_QUERIES))
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= TOP_K
        # ordering: descending cosine, ties to the lower vec_id
        for x, y in zip(rs, rs[1:]):
            assert (x["cos"], -x["vec_id"]) >= (y["cos"], -y["vec_id"])
        # the query itself never appears as its own neighbour
        assert all(r["vec_id"] != q for r in rs)


def test_graph_beam_recall_floor(spark):
    """Beam search over the banded kNN graph must recall a substantial
    share of the exact top-5 — random top-5 over an N-vector corpus
    would land ~5/N ~ 0 in_exact hits; the graph must do far better."""
    rows = registry.QUERIES["ann_graph_beam_audit"](spark, SF_DIR).collect()
    recall = sum(r["in_exact"] for r in rows) / len(rows)
    assert recall >= 0.3, f"overall recall {recall:.2f}"


def test_graph_beam_hits_match_exact_set(spark):
    """in_exact must be literally membership in ann_cosine_topk."""
    exact = {
        (r["q_vec_id"], r["vec_id"])
        for r in registry.QUERIES["ann_cosine_topk"](spark, SF_DIR).collect()
    }
    rows = registry.QUERIES["ann_graph_beam_audit"](spark, SF_DIR).collect()
    for r in rows:
        assert r["in_exact"] == int((r["q_vec_id"], r["vec_id"]) in exact)


# ---- compaction_execute -----------------------------------------------------


def test_compaction_reduces_files_and_preserves_checksums(spark):
    rows = registry.QUERIES["compaction_execute"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["rows_match"] == 1
        assert r["value_match"] == 1
        assert r["id_match"] == 1
        assert r["n_files_after"] <= r["n_files_before"]
    # compaction must actually compact somewhere, not just no-op
    assert any(r["n_files_after"] < r["n_files_before"] for r in rows)


def _compacted_dir(spark, monkeypatch) -> tuple[list, str]:
    """Run ``compaction_execute``; return its rows and the compacted
    output directory, recorded as it is made through ``scratch_dir``."""
    from velib_lakehouse_spark.sources import lake

    made = []
    scratch_dir = lake.scratch_dir

    def recording(prefix):
        made.append(scratch_dir(prefix))
        return made[-1]

    monkeypatch.setattr(lake, "scratch_dir", recording)
    rows = registry.QUERIES["compaction_execute"](spark, SF_DIR).collect()
    out = [d for d in made if "compact_out_" in d]
    assert out, "compacted dir not made through scratch_dir"
    return rows, out[-1]


def test_compaction_physical_file_count_matches_audit(spark, monkeypatch):
    """One physical parquet file per (date, bin) — the writer keys the
    shuffle by exactly the partition columns, so the audited
    n_files_after equals what is actually on disk."""
    import glob
    import os

    rows, out = _compacted_dir(spark, monkeypatch)
    per_date: dict[str, int] = {}
    for f in glob.glob(os.path.join(out, "date=*", "bin_id=*", "*.parquet")):
        date = os.path.basename(os.path.dirname(os.path.dirname(f))).split("=")[1]
        per_date[date] = per_date.get(date, 0) + 1
    audited = {r["date"]: r["n_files_after"] for r in rows}
    assert per_date == audited


def test_compaction_drops_all_deleted_rows(spark, monkeypatch):
    """No position-deleted or equality-deleted row may survive into the
    compacted files (delete-file state is folded, not copied)."""
    from velib_lakehouse_spark.sources.lake import MOR_EQ_MOD

    _, out = _compacted_dir(spark, monkeypatch)
    compacted = spark.read.parquet(out)
    assert compacted.filter(F.col("event_type") == "error").count() == 0
    assert compacted.filter(F.col("user_id") % MOR_EQ_MOD == 0).count() == 0


def test_graph_build_candidate_stream_is_linear(spark):
    """The sorted-neighborhood candidate generation must emit at most
    n * ANN_BANDS * GRAPH_NBHD directed probes before dedup — the
    O(n) bound that replaces the quadratic full-bucket self-join (a
    256x exact-dup replica corpus makes Sum(bucket^2) explode while
    n * C grows linearly)."""
    from velib_lakehouse_spark.operators.similarity import (
        ANN_BANDS,
        GRAPH_NBHD,
        _band_bucket_expr,
        _vectors,
    )
    from velib_lakehouse_spark.functions.hashing import md5_long
    from pyspark.sql import Window

    v = _vectors(spark, SF_DIR)
    n = v.count()
    bands_arr = "array({})".format(
        ", ".join(_band_bucket_expr("v", b) for b in range(ANN_BANDS))
    )
    wb = Window.partitionBy("band", "bucket").orderBy(
        md5_long(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    vb = v.select(
        "vec_id", F.posexplode(F.expr(bands_arr)).alias("band", "bucket")
    ).withColumn("r", F.row_number().over(wb))
    steps = spark.range(1, GRAPH_NBHD + 1).select(
        F.col("id").cast("int").alias("step")
    )
    probes = vb.crossJoin(F.broadcast(steps)).select(
        "band", "bucket", (F.col("r") + F.col("step")).alias("r"),
        F.col("vec_id").alias("peer"),
    )
    matched = vb.join(probes, ["band", "bucket", "r"]).count()
    assert matched <= n * ANN_BANDS * GRAPH_NBHD
    assert matched > 0
