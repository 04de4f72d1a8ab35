"""Independent expected results, computed outside the timed region.

* ``scd2_replay`` replays the CDC batches over the initial target in plain
  Python: envelope unpack, shard lookup, PII hashing of the planted tokens,
  earliest-wins dedup per key, and the SCD2 clauses (expire the current
  version when the tracked column changed and insert the new one; mark
  every version of a key deleted on a soft delete; insert unseen keys).
* ``catalog_mismatch`` compares a catalog query's Spark result with its
  DuckDB twin from ``oracle_sql()`` through ``tools/check_oracle.compare``.
"""

from __future__ import annotations

import hashlib

import pyarrow.parquet as pq

from gen import TARGET_COLS, anonymize_planted

TRACKED = "city"


def _ts_us(v):
    if v is None:
        return None
    # pyarrow hands timestamp[us] back as naive datetimes in UTC
    import datetime as dt

    return int((v - dt.datetime(1970, 1, 1)) / dt.timedelta(microseconds=1))


def _update_rows(batch_path: str, shard_of: dict) -> dict[int, dict]:
    """Processed, deduped update rows of one batch, keyed by id."""
    out: dict[int, dict] = {}
    for env in pq.read_table(batch_path).column("value").to_pylist():
        upsert = env["op"] in ("c", "u")
        rec = env["after"] if upsert else env["before"]
        row = {
            "id": rec["id"], "name": rec["name"], "email": rec["email"],
            "city": rec["city"], "note": rec["note"],
            "updated_at": _ts_us(rec["updated_at"]),
            "shard_name": shard_of[(env["source"]["db"], env["source"]["server_id"])],
            "row_active": upsert, "deleted_flag": not upsert,
            "current_flag": True, "expiry_at": None,
            "email_hash": hashlib.sha256(rec["email"].encode()).hexdigest(),
            "note_hash": anonymize_planted(rec["note"]),
        }
        prev = out.get(row["id"])
        if prev is None or row["updated_at"] < prev["updated_at"]:
            out[row["id"]] = row
    return out


def scd2_replay(cdc_dir: str, n_batches: int) -> list[tuple]:
    """Final table after batches ``0 .. n_batches-1``, as sorted tuples in
    ``TARGET_COLS`` order with timestamps in epoch microseconds."""
    shards = pq.read_table(f"{cdc_dir}/shards.parquet").to_pylist()
    shard_of = {(s["db"], s["server_id"]): s["shard_name"] for s in shards}
    by_key: dict[int, list[dict]] = {}
    for r in pq.read_table(f"{cdc_dir}/target.parquet").to_pylist():
        r["updated_at"] = _ts_us(r["updated_at"])
        by_key.setdefault(r["id"], []).append(r)
    for b in range(n_batches):
        for key, u in _update_rows(f"{cdc_dir}/batch_{b:04d}.parquet", shard_of).items():
            versions = by_key.setdefault(key, [])
            inserts = []
            for v in versions:
                if v["current_flag"] and v[TRACKED] != u[TRACKED]:
                    v["current_flag"] = False
                    v["expiry_at"] = u["updated_at"]
                    inserts.append(dict(u))
                elif not u["row_active"]:
                    v["deleted_flag"] = True
            if not versions:
                inserts.append(dict(u))
            versions.extend(inserts)
    return sorted(
        tuple(v[c] for c in TARGET_COLS) for vs in by_key.values() for v in vs
    )



def catalog_mismatch(name: str, spark_pdf, sf_dir: str) -> str | None:
    """None when ``spark_pdf`` (a pandas frame) equals the DuckDB result of
    query ``name``'s ``oracle_sql()`` twin on the tables in ``sf_dir``."""
    import duckdb

    from check_oracle import TABLES, compare
    from metadata_ingestion_framework_spark.catalog_queries import ORACLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        ok, msg = compare(spark_pdf, con.execute(ORACLES[name]).fetchdf())
    finally:
        con.close()
    return None if ok else msg
