"""Operator inventory (SURVEY.md §2) as (spark, sf_dir) -> DataFrame callables.

Each module exposes query functions plus an ``ORACLE`` dict mapping query
name -> equivalent DuckDB SQL.
``velib_lakehouse_spark.registry`` aggregates them all.
"""
