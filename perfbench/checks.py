"""Correctness checks on what the lake and the queries produced.

Every check returns a list of failure strings (empty = passed); each
failure counts as one failed operation of the run.
"""

from __future__ import annotations

import datetime
import os

LEG_KEYS = ("staged", "error", "authz_rejected", "dedup_rejected")


def parquet_files(root: str) -> list[str]:
    out = []
    for d, _subdirs, files in os.walk(root):
        out += [
            os.path.join(d, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    return sorted(out)


def zone_counts(spark, lake: str, landing: list[str]) -> dict[str, int]:
    """Count every leg from the lake itself: rows in the staging and
    error zones, and the two gates re-applied to the landed wire."""
    from pyspark.sql import functions as F

    from hcls_data_lake_spark.pipeline.ingest import (
        authz_write_gate,
        decode_base64,
        rejected_authz,
    )

    def rows(zone: str) -> int:
        path = os.path.join(lake, zone)
        return spark.read.parquet(path).count() if parquet_files(path) else 0

    decoded = decode_base64(spark.read.parquet(*landing))
    authorized = authz_write_gate(decoded).count()
    admitted = rows("ingestion")
    counts = {
        "generated": decoded.count(),
        "staged": rows("staging"),
        "error": rows("error"),
        "authz_rejected": rejected_authz(decoded).count(),
        "dedup_rejected": authorized - admitted,
        "admitted": admitted,
    }
    staging = os.path.join(lake, "staging")
    counts["staged_without_msh"] = (
        spark.read.parquet(staging)
        .filter(F.get_json_object("msg", "$.MSH").isNull())
        .count()
        if parquet_files(staging)
        else 0
    )
    return counts


def check_counts(counts: dict[str, int], expected: dict[str, int]) -> list[str]:
    """The lake's legs must equal the generator's, and add up to the
    number of messages generated."""
    fails = [
        f"{k}: lake has {counts[k]}, generator made {expected[k]}"
        for k in LEG_KEYS + ("admitted",)
        if counts[k] != expected[k]
    ]
    legs = sum(counts[k] for k in LEG_KEYS)
    if legs != expected["generated"]:
        fails.append(f"legs add up to {legs}, generated {expected['generated']}")
    if counts["staged_without_msh"]:
        fails.append(f"{counts['staged_without_msh']} staged documents lack $.MSH")
    return fails


def check_lookup(rows, expected_hash: str | None) -> list[str]:
    """An authorized lookup returns exactly the message; a denied one
    (``expected_hash`` None) returns nothing."""
    if expected_hash is None:
        return [] if not rows else [f"denied lookup returned {len(rows)} rows"]
    if len(rows) != 1:
        return [f"authorized lookup returned {len(rows)} rows"]
    if rows[0]["msg_hash"] != expected_hash:
        return ["lookup returned the wrong message"]
    return []


def check_reconcile(report: dict) -> list[str]:
    if report["consistent"]:
        return []
    return [
        f"catalog inconsistent for {report['zone']}: {report['n_orphans']}"
        f" orphans, {report['n_dangling']} dangling"
    ]


# -- analytics ---------------------------------------------------------------


def _python_rows(tbl) -> tuple[list[str], list[tuple]]:
    """Arrow table -> (columns, rows) as ``DataFrame.collect`` would hand
    them to Python in a UTC session: tz-aware timestamps become naive
    UTC, so Spark's and DuckDB's Arrow renderings compare alike."""
    cols = tbl.column_names

    def py(v):
        if isinstance(v, datetime.datetime) and v.tzinfo is not None:
            return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v

    return cols, [tuple(py(rec[c]) for c in cols) for rec in tbl.to_pylist()]


def _categories(tbl) -> dict[str, str]:
    from tests.parity import _arrow_category

    return {f.name: _arrow_category(f.type) for f in tbl.schema}


def oracle_rows(sf_dir: str, sqls: dict[str, str]) -> dict[str, tuple]:
    """Type categories and normalized rows of each DuckDB oracle."""
    from tests.parity import _normalize, duck_connection

    con = duck_connection(sf_dir)
    try:
        out = {}
        for name, sql in sqls.items():
            tbl = con.execute(sql).fetch_arrow_table()
            out[name] = (_categories(tbl), _normalize(*_python_rows(tbl)))
        return out
    finally:
        con.close()


def check_oracle(name: str, tbl, expected: tuple) -> list[str]:
    """Compare a collected Arrow result with its oracle: column names,
    coarse type categories, then the normalized type-tagged rows."""
    from tests.parity import _normalize

    exp_cats, (exp_cols, exp_rows) = expected
    cols, rows = _normalize(*_python_rows(tbl))
    if cols != exp_cols:
        return [f"{name}: columns {cols} != oracle {exp_cols}"]
    cats = _categories(tbl)
    drift = sorted(
        c for c in cats
        if cats[c] != exp_cats[c] and "nested" not in (cats[c], exp_cats[c])
    )
    if drift:
        return [f"{name}: type drift in {drift}"]
    if len(rows) != len(exp_rows):
        return [f"{name}: {len(rows)} rows, oracle has {len(exp_rows)}"]
    if rows != exp_rows:
        return [f"{name}: values differ from the oracle"]
    return []


def check_rows_only(name: str, tbl, first_rows: int | None) -> list[str]:
    """Rows-only check for results with no oracle: non-empty, and the
    same row count on every call."""
    if tbl.num_rows == 0:
        return [f"{name}: empty result"]
    if first_rows is not None and tbl.num_rows != first_rows:
        return [f"{name}: {tbl.num_rows} rows, first call had {first_rows}"]
    return []


RECALL_FLOOR = 0.8


def recall_at_3(tbl) -> float:
    hits = sum(tbl.column("hits").to_pylist())
    return hits / (3.0 * tbl.num_rows)
