"""Result checks for the analyst workloads, outside the timed region.

A query's result is compared with its DuckDB oracle (``ORACLE_SQL``) the
way ``pulseboard_spark/parity.py::compare`` does it: both sides as pandas
frames, columns and rows sorted, every cell compared through its string
image.  The DuckDB side is computed once per corpus and cached on disk as
the image's column list, row count and SHA-256.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pandas as pd


def image(df: pd.DataFrame) -> dict:
    from pulseboard_spark.parity import _array_cells, _canon_frame

    bad = _array_cells(df)
    if bad:
        return {"error": f"array-typed cells in {bad}"}
    canon = _canon_frame(df)
    digest = hashlib.sha256()
    for col in canon.columns:
        digest.update(col.encode() + b"\x00")
        digest.update("\x1f".join(canon[col].tolist()).encode() + b"\x1e")
    return {"columns": list(canon.columns), "rows": len(canon), "sha256": digest.hexdigest()}


def duck_images(corpus_dir: Path, names: list[str], cache_file: Path) -> dict[str, dict]:
    """DuckDB oracle images for ``names`` over ``corpus_dir``, cached and
    keyed by the oracle SQL text, so an edited oracle is recomputed."""
    from pulseboard_spark.registry import ORACLE_SQL

    cached = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    sql_key = {n: hashlib.sha256(ORACLE_SQL[n].encode()).hexdigest() for n in names}
    missing = [n for n in names if cached.get(n, {}).get("sql") != sql_key[n]]
    if missing:
        from pulseboard_spark.parity import duck_connection

        con = duck_connection(str(corpus_dir))
        try:
            for n in missing:
                cached[n] = {"sql": sql_key[n], **image(con.execute(ORACLE_SQL[n]).fetchdf())}
        finally:
            con.close()
        tmp = cache_file.with_suffix(".tmp")
        tmp.write_text(json.dumps(cached, indent=1, sort_keys=True))
        tmp.replace(cache_file)
    return {n: cached[n] for n in names}


def mismatch(spark_image: dict, duck_image: dict) -> str:
    """Empty when the two images agree, else what differs."""
    if "error" in spark_image or "error" in duck_image:
        return f"spark {spark_image.get('error', 'ok')} / duckdb {duck_image.get('error', 'ok')}"
    for key in ("columns", "rows", "sha256"):
        if spark_image[key] != duck_image[key]:
            return f"{key} differ: {spark_image[key]} vs {duck_image[key]}"
    return ""
