import json
import os

import pyarrow.parquet as pq

import gen

# Column names and Arrow types of the engine's sf-shaped catalog tables.
CATALOG_SCHEMAS = {
    "region": "r_regionkey: int32; r_name: string",
    "nation": "n_nationkey: int32; n_name: string; n_regionkey: int32",
    "customer": "c_custkey: int64; c_name: string; c_nationkey: int32; "
                "c_acctbal: double; c_mktsegment: string",
    "supplier": "s_suppkey: int64; s_name: string; s_nationkey: int32; s_acctbal: double",
    "part": "p_partkey: int64; p_name: string; p_brand: string; p_type: string; "
            "p_size: int32; p_retailprice: double",
    "orders": "o_orderkey: int64; o_custkey: int64; o_orderstatus: string; "
              "o_totalprice: double; o_orderdate: timestamp[us]; o_orderpriority: string",
    "lineitem": "l_orderkey: int64; l_partkey: int64; l_suppkey: int64; "
                "l_linenumber: int32; l_quantity: double; l_extendedprice: double; "
                "l_discount: double; l_tax: double; l_returnflag: string; "
                "l_linestatus: string; l_shipdate: timestamp[us]",
    "events": "event_id: int64; ts: timestamp[us]; user_id: int64; event_type: string; "
              "value: double; props: string",
    "documents": "doc_id: int64; text: string; lang: string; source: string; n_chars: int64",
    "embeddings": "vec_id: int64; embedding: list<item: float>; label: int32",
}


def _schema(path):
    return "; ".join(f"{f.name}: {f.type}" for f in pq.read_schema(path))


def test_same_seed_same_inputs(tmp_path):
    gen.generate(tmp_path / "a", 7, 0.0005)
    gen.generate(tmp_path / "b", 7, 0.0005)
    gen.generate(tmp_path / "c", 8, 0.0005)
    assert gen.digest(str(tmp_path / "a")) == gen.digest(str(tmp_path / "b"))
    for part in ("catalog", "cdc", "store"):
        assert gen.digest(str(tmp_path / "a" / part)) != gen.digest(str(tmp_path / "c" / part))


def test_one_part_alone_matches_all_parts(tmp_path):
    gen.generate(tmp_path / "all", 3, 0.0005)
    gen.generate(tmp_path / "cdc_only", 3, 0.0005, parts=("cdc",))
    assert gen.digest(str(tmp_path / "all" / "cdc")) == gen.digest(str(tmp_path / "cdc_only" / "cdc"))


def test_catalog_schemas(tmp_path):
    p = gen.generate(tmp_path, 1, 0.001, parts=("catalog",))
    for table, schema in CATALOG_SCHEMAS.items():
        path = tmp_path / "catalog" / f"{table}.parquet"
        assert _schema(path).replace("element:", "item:") == schema
    assert pq.read_metadata(tmp_path / "catalog" / "lineitem.parquet").num_rows == p["lineitem"]


def test_store_manifest_partitions_each_batch(tmp_path):
    p = gen.generate(tmp_path, 5, 0.001, parts=("store",))
    with open(tmp_path / "store" / "manifest.json") as f:
        manifest = json.load(f)
    n = p["store_batch_docs"]
    for m in manifest[:5]:
        b = m["batch"]
        ids = pq.read_table(tmp_path / "store" / f"docs_{b:04d}.parquet").column("doc_id").to_pylist()
        kinds = m["unique"] + m["exact_dup"] + m["near_dup"] + m["intra_dup"]
        assert sorted(kinds) == ids == list(range(b * n, (b + 1) * n))
    assert all(m["exact_dup"] and m["near_dup"] for m in manifest[1:])


def test_cdc_notes_hash_only_planted_tokens(tmp_path):
    gen.generate(tmp_path, 2, 0.0005, parts=("cdc",))
    with open(tmp_path / "cdc" / "planted_pii.json") as f:
        planted = set(json.load(f))
    assert planted
    from metadata_ingestion_framework_spark.functions.pii import _anonymize

    notes = pq.read_table(tmp_path / "cdc" / "target.parquet").column("note").to_pylist()
    for note in notes:
        assert _anonymize(note) == gen.anonymize_planted(note)
    assert os.path.exists(tmp_path / "cdc" / "batch_0000.parquet")
