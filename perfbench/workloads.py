"""The benchmark's workloads, each a closed loop with one client.

A workload object is built after the session is up. ``prepare`` loads its
inputs and ``warm`` runs its warm-up (both untimed, both part of the
set-up time), ``op`` runs one operation and returns the input rows it
consumed, and ``check`` verifies the outputs after the timed loop:
``{check: None or mismatch}``. The next operation starts only after the
previous one committed.

Layer spans come from the benchmark's own code: calls it makes into the
package are wrapped in ``tracer.span(...)``, and the store and
observability objects it hands to the package are wrapped per instance
(``instrument``), so the package itself is untouched.
"""

from __future__ import annotations

import glob
import json
import os
import time

import pyarrow.parquet as pq

import oracle
from spans import totals_by_name

# the catalog query of the probe in traced cdc_ingest runs: the only caller
# of spill_barrier, so it covers the barrier layer too
PROBE_QUERY = "pretrain_corpus_e2e"


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (inode, size) for every regular file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_ino, st.st_size)
    return out


def snapshot(roots) -> dict[str, tuple[int, int]]:
    """``tree_files`` of every root, merged."""
    out = {}
    for root in roots:
        out.update(tree_files(root))
    return out


def new_files(before: dict, after: dict) -> list[tuple[int, bool]]:
    """(size, carried) of every path in ``after`` that is not in ``before``;
    carried when its inode was already there (a hard-link carry, not a
    write)."""
    old = {ino for ino, _ in before.values()}
    return [(size, ino in old) for p, (ino, size) in after.items() if p not in before]


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of the files written between the two ``snapshot``s."""
    return sum(size for size, carried in new_files(before, after) if not carried)


class IOCounter:
    """Files and bytes that calls add under a root while the tracer is on:
    new files whose inode is new count as written, new paths to an
    existing inode (hard-link carries) as linked."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.files_written = 0
        self.bytes_written = 0
        self.bytes_linked = 0

    def around(self, root: str, fn, *args, **kwargs):
        if not self.tracer.enabled:
            return fn(*args, **kwargs)
        before = tree_files(root)
        try:
            return fn(*args, **kwargs)
        finally:
            for size, carried in new_files(before, tree_files(root)):
                if carried:
                    self.bytes_linked += size
                else:
                    self.files_written += 1
                    self.bytes_written += size


def instrument(obj, root: str, methods: dict[str, str], io: IOCounter) -> None:
    """Wrap ``obj``'s methods (name -> span name) in spans and IO counting.
    Only called for traced runs."""
    for meth, span_name in methods.items():
        orig = getattr(obj, meth)

        def wrapped(*args, _orig=orig, _name=span_name, **kwargs):
            with io.tracer.span(_name):
                return io.around(root, _orig, *args, **kwargs)

        setattr(obj, meth, wrapped)


class Workload:
    input_bytes = 0
    traced_input_bytes = 0
    # storage roots the operations write under (set by ``prepare``)
    roots: tuple[str, ...] = ()
    # operations an untraced run times at least, whatever ``--seconds`` says
    min_ops = 3

    def remaining(self) -> int:
        """Input batches not yet consumed."""
        return len(self.batches) - self.done

    def _count_input(self, path: str) -> None:
        size = os.path.getsize(path)
        self.input_bytes += size
        if self.tracer.enabled:
            self.traced_input_bytes += size


class CatalogProbe:
    """One ``PROBE_QUERY`` run on a small generated catalog, made after the
    timed loop of a traced ``cdc_ingest`` run. The catalog workloads do not
    fit the benchmark's time budget (``NOTES.json``), so this is where the
    catalog_queries and operators.barrier layers are measured: the query's
    construction and action as spans, and every ``spill_barrier`` output
    read from disk before it is released. The result is checked against
    the query's DuckDB ``oracle_sql()`` twin."""

    def __init__(self, spark, tracer, sf_dir: str):
        self.spark, self.tracer, self.sf_dir = spark, tracer, sf_dir
        self.barrier_files = 0
        self.barrier_bytes = 0

    def run(self) -> str | None:
        """Run the probe; return None or the oracle mismatch."""
        from metadata_ingestion_framework_spark import catalog_queries as cq
        from metadata_ingestion_framework_spark.operators import barrier

        spill = barrier.spill_barrier

        def counted_spill(df, release=()):
            out = spill(df, release)
            for path, (_, size) in tree_files(out._persisted_deps[0].path).items():
                if path.endswith(".parquet"):
                    self.barrier_files += 1
                    self.barrier_bytes += size
            return out

        barrier.spill_barrier = counted_spill
        self.tracer.enabled = True
        df = None
        try:
            with self.tracer.span("catalog.pre_action"):
                df = cq.QUERIES[PROBE_QUERY](self.spark, self.sf_dir)
            with self.tracer.span("catalog.action"):
                got = df.toPandas()
        finally:
            self.tracer.enabled = False
            barrier.spill_barrier = spill
            for dep in getattr(df, "_persisted_deps", ()):
                dep.unpersist()
        return oracle.catalog_mismatch(PROBE_QUERY, got, self.sf_dir)

    def layer_metrics(self, span_jobs) -> dict[str, float]:
        p = f"catalog.{PROBE_QUERY}"
        t = totals_by_name(self.tracer.spans)
        return {
            f"{p}.pre_action_s": t.get("catalog.pre_action", {}).get("total_s", 0.0),
            f"{p}.action_s": t.get("catalog.action", {}).get("total_s", 0.0),
            f"{p}.jobs_pre_action": span_jobs("catalog.pre_action"),
            f"{p}.jobs_action": span_jobs("catalog.action"),
            "barrier.files": self.barrier_files,
            "barrier.bytes_written": self.barrier_bytes,
        }


class CdcIngest(Workload):
    """CDC micro-batches through reader -> processor -> writer into a
    VersionedParquetStore SCD2 dimension, with status and fact rows."""

    TABLE = "customer_dim"
    MATCH = "target.current_flag = true AND target.city <> updates.city"
    PII_CATALOG = [
        {"product_name": "crm", "pii_column_name": "email", "common_flag": True,
         "encryption_flag": False, "anonymization_flag": "complete"},
        {"product_name": "crm", "pii_column_name": "note", "common_flag": True,
         "encryption_flag": False, "anonymization_flag": "partial"},
    ]

    def __init__(self, spark, inputs: str, work: str, tracer, trace: bool):
        self.spark, self.tracer, self.trace = spark, tracer, trace
        self.cdc = os.path.join(inputs, "cdc")
        self.work = work
        self.batches = sorted(glob.glob(f"{self.cdc}/batch_*.parquet"))
        self.done = 0
        self.store_io = IOCounter(tracer)
        self.obs_io = IOCounter(tracer)
        self.probe = CatalogProbe(spark, tracer, os.path.join(inputs, "probe", "catalog"))

    def prepare(self):
        from metadata_ingestion_framework_spark.observability import ObservabilityStore
        from metadata_ingestion_framework_spark.plans.metadata import extract_fields
        from metadata_ingestion_framework_spark.plans.tablestore import VersionedParquetStore

        self.cfg = extract_fields({
            "pipeline_def_id": "pd_customer", "product_name": "crm",
            "table_name": self.TABLE, "primary_key": "id", "join_key": "id",
            "updated_at_col": "updated_at", "omitted_cols": "internal_note",
            "scd_type": "SCD2",
        })
        self.store_root = os.path.join(self.work, "tables")
        self.obs_root = os.path.join(self.work, "obs")
        self.roots = (self.store_root, self.obs_root)
        self.store = VersionedParquetStore(self.spark, self.store_root)
        self.store.write(self.spark.read.parquet(f"{self.cdc}/target.parquet"), self.TABLE)
        self.obs = ObservabilityStore(self.spark, self.obs_root)
        self.shards = self.spark.read.parquet(f"{self.cdc}/shards.parquet").cache()
        self.shards.count()
        if self.trace:
            instrument(self.store, self.store_root, {
                "write": "tablestore.write", "read": "tablestore.read",
            }, self.store_io)
            instrument(self.obs, self.obs_root, {
                "write_status": "observability.write_status",
                "write_fact": "observability.write_fact",
            }, self.obs_io)

    def warm(self):
        """Two operations. A cold first CDC batch takes 2-3 times as long
        as the next ones, and after one warm-up batch the next three still
        got faster one by one (5.0, 4.5, 4.3 s on a 4-core box)."""
        self.op()
        self.op()

    def op(self) -> int:
        from pyspark.sql import functions as F

        from metadata_ingestion_framework_spark.functions.transforms import drop_it
        from metadata_ingestion_framework_spark.operators.cdc import (
            enrich_with_shard, split_cdc_envelope,
        )
        from metadata_ingestion_framework_spark.operators.merge import scd2_merge
        from metadata_ingestion_framework_spark.plans.metadata import apply_pii_governance
        from metadata_ingestion_framework_spark.plans.pipeline import Pipeline, PipelineTask

        path = self.batches[self.done]
        self._count_input(path)
        cfg, span = self.cfg, self.tracer.span

        def reader(_):
            return {"rawdf": self.spark.read.parquet(path)}

        def processor(o):
            with span("processor.plan"):
                df = split_cdc_envelope(o["rawdf"])
                df = enrich_with_shard(df, self.shards)
                df = drop_it(df, *cfg.omitted_cols)
                df = apply_pii_governance(df, self.PII_CATALOG, cfg.product_name)
                df = df.withColumn("current_flag", F.lit(True)).withColumn(
                    "expiry_at", F.lit(None).cast("timestamp"))
            return {"processedDf": df}

        def writer(o):
            from gen import TARGET_COLS

            updates = o["processedDf"].select(*TARGET_COLS)
            target = self.store.read(cfg.table_name)
            with span("merge.plan"):
                merged = scd2_merge(target, updates, cfg.join_keys, self.MATCH,
                                    updated_at_col=cfg.updated_at_col)
            self.store.write(merged, cfg.table_name)
            rows = self.store.read(cfg.table_name).count()
            self.obs.write_fact(cfg.pipeline_def_id, "writer", "output_rows", rows)
            return {}

        p = Pipeline(cfg.pipeline_def_id, obs=self.obs)
        p.add_task(PipelineTask("reader", reader))
        p.add_task(PipelineTask("processor", processor, after=["reader"]))
        p.add_task(PipelineTask("writer", writer, after=["processor"]))
        with span("pipeline.run"):
            p.run()
        self.done += 1
        return pq.ParquetFile(path).metadata.num_rows

    def check(self) -> dict[str, str | None]:
        from gen import TARGET_COLS

        got = self.store.read(self.TABLE).selectExpr(*[
            f"unix_micros({c}) AS {c}" if c in ("updated_at", "expiry_at") else c
            for c in TARGET_COLS
        ]).collect()
        got = sorted(tuple(r) for r in got)
        want = oracle.scd2_replay(self.cdc, self.done)
        out = {"scd2_replay": None if got == want else (
            f"final table differs from the SCD2 replay ({len(got)} vs {len(want)} "
            f"rows, {len(set(got) ^ set(want))} rows differ)")}
        if self.trace:
            out["catalog_probe_oracle"] = self.probe.run()
        return out

    def layer_metrics(self, n: int, span_jobs) -> dict[str, float]:
        version = self.store.current_version(self.TABLE)
        live = sum(size for _, size in tree_files(
            self.store._version_path(self.TABLE, version)).values())
        written = self.store_io.bytes_written + self.obs_io.bytes_written
        return {
            "tablestore.files_written": self.store_io.files_written / n,
            "tablestore.bytes_written": self.store_io.bytes_written / n,
            "tablestore.bytes_linked": self.store_io.bytes_linked / n,
            "tablestore.live_bytes": live,
            "tablestore.write_amp": written / max(1, self.traced_input_bytes),
            "tablestore.space_amp": live / max(1, os.path.getsize(
                f"{self.cdc}/target.parquet") + sum(
                os.path.getsize(b) for b in self.batches[: self.done])),
            "observability.files_written": self.obs_io.files_written / n,
            **self.probe.layer_metrics(span_jobs),
        }


class StoreIngest(Workload):
    """Document batches through MinhashSignatureStore and then
    EmbeddingDedupStore, against stores that already hold
    ``BOOTSTRAP_BATCHES`` batches; id-range retention runs once, after the
    loop."""

    # batches loaded as one bootstrap ingest in ``prepare``: 8800 documents
    # at 200 per batch, more than one range bucket of the package's default
    # layout (64 band buckets, range buckets of 8192 ids). Each timed ingest
    # then rewrites every band bucket and the partly filled signature and
    # vector range bucket, and carries the full one by hard link.
    BOOTSTRAP_BATCHES = 44
    # an ingest takes about 15 s on a 4-core box; a third one would push a
    # pair of runs (this and cdc_ingest) past its share of the benchmark's
    # time budget (4 + 22 runs per workload in 3420 s)
    min_ops = 2

    def __init__(self, spark, inputs: str, work: str, tracer, trace: bool):
        self.spark, self.tracer, self.trace = spark, tracer, trace
        self.dir = os.path.join(inputs, "store")
        self.work = work
        with open(f"{self.dir}/manifest.json") as f:
            self.manifest = json.load(f)
        self.batches = [self._path(m["batch"]) for m in self.manifest]
        self.batch_docs = sum(len(v) for v in self.manifest[0].values() if isinstance(v, list))
        self.retire_s = 0.0
        self.done = 0
        self.kept: set[int] = set()
        self.io = IOCounter(tracer)

    def prepare(self):
        from metadata_ingestion_framework_spark.operators.dedup import unpersist_deps
        from metadata_ingestion_framework_spark.operators.incremental import (
            EmbeddingDedupStore, MinhashSignatureStore,
        )
        from gen import STORE_DIM

        self.mh_root = os.path.join(self.work, "minhash")
        self.emb_root = os.path.join(self.work, "embedding")
        self.roots = (self.mh_root, self.emb_root)
        self.minhash = MinhashSignatureStore(self.spark, self.mh_root)
        self.embed = EmbeddingDedupStore(
            self.spark, self.emb_root, dim=STORE_DIM, id_col="doc_id",
            vec_col="embedding", threshold=0.95,
        )
        boot = self.spark.read.parquet(*[self._path(b) for b in range(self.BOOTSTRAP_BATCHES)])
        s1 = self.minhash.ingest(boot, "bootstrap")
        s2 = self.embed.ingest(s1, "bootstrap")
        self.kept.update(r.doc_id for r in s2.select("doc_id").collect())
        unpersist_deps(s2)
        unpersist_deps(s1)
        self.done = self.BOOTSTRAP_BATCHES
        if self.trace:
            methods = {
                "write": "tablestore.write",
                "write_partition_delta": "tablestore.write_partition_delta",
                "read": "tablestore.read",
            }
            instrument(self.minhash.store, self.mh_root, methods, self.io)
            instrument(self.embed.store, self.emb_root, methods, self.io)

    def warm(self):
        """Nothing beyond the bootstrap ingest in ``prepare``: it runs the
        same signature, band and vector code, so the first timed ingest is
        not cold."""

    def _path(self, b: int) -> str:
        return f"{self.dir}/docs_{b:04d}.parquet"

    def _batch(self, b: int):
        return self.spark.read.parquet(self._path(b))

    def op(self) -> int:
        from metadata_ingestion_framework_spark.operators.dedup import unpersist_deps

        b, span = self.done, self.tracer.span
        run_id = f"run-{b:04d}"
        self._count_input(self._path(b))
        with span("incremental.minhash_ingest"):
            s1 = self.minhash.ingest(self._batch(b), run_id)
        with span("incremental.embedding_ingest"):
            s2 = self.embed.ingest(s1, run_id)
            kept = [r.doc_id for r in s2.select("doc_id").collect()]
        unpersist_deps(s2)
        unpersist_deps(s1)
        self.kept.update(kept)
        self.done += 1
        return self.batch_docs

    def _injected(self, kind: str) -> set[int]:
        return {i for m in self.manifest[: self.done] for i in m[kind]}

    def check(self) -> dict[str, str | None]:
        """Dedup outcomes, then retention of the bootstrap batches' ids
        (timed into ``retire_s``), then a replayed run_id."""
        exact = (self._injected("exact_dup") | self._injected("intra_dup")) & self.kept
        lost = self._injected("unique") - self.kept
        out = {
            "exact_duplicates_dropped": f"{len(exact)} kept" if exact else None,
            "unique_documents_kept": f"{len(lost)} dropped" if lost else None,
        }
        cutoff = self.BOOTSTRAP_BATCHES * self.batch_docs
        t0 = time.perf_counter()
        self.minhash.retire_ids_below(cutoff)
        self.embed.retire_ids_below(cutoff)
        self.retire_s = time.perf_counter() - t0
        sig_ids = {r.doc_id for r in self.minhash.store.read("sigs").select("doc_id").collect()}
        vec_ids = {r.doc_id for r in self.embed.store.read("vecs").select("doc_id").collect()}
        want = set(range(cutoff, self.done * self.batch_docs))
        out["retire_keeps_exactly_newer_ids"] = None if sig_ids == want and (
            vec_ids <= want and vec_ids >= (self.kept & want)) else (
            f"after retiring ids < {cutoff}: {len(sig_ids - want)} stale and "
            f"{len(want - sig_ids)} missing signatures")
        last = self.done - 1
        before = (self.minhash.store.current_version("sigs"),
                  self.embed.store.current_version("vecs"))
        again = (self.minhash.ingest(self._batch(last), f"run-{last:04d}"),
                 self.embed.ingest(self._batch(last), f"run-{last:04d}"))
        after = (self.minhash.store.current_version("sigs"),
                 self.embed.store.current_version("vecs"))
        out["reingest_is_noop"] = None if again == (None, None) and before == after else (
            "re-ingesting a run_id changed the store")
        return out

    def layer_metrics(self, n: int, span_jobs) -> dict[str, float]:
        offered = sum(len(m[k]) for m in self.manifest[: self.done]
                      for k in ("unique", "exact_dup", "near_dup", "intra_dup"))
        dups = (self._injected("exact_dup") | self._injected("near_dup")
                | self._injected("intra_dup"))
        live = 0
        for st, tables in ((self.minhash.store, ("sigs", "bands")),
                           (self.embed.store, ("vecs",))):
            for t in tables:
                v = st.current_version(t)
                if v is not None:
                    live += sum(s for _, s in tree_files(st._version_path(t, v)).values())
        # retention (in check) keeps the batches after the bootstrap ones
        live_docs = sum(os.path.getsize(self._path(b))
                        for b in range(self.BOOTSTRAP_BATCHES, self.done))
        return {
            "tablestore.files_written": self.io.files_written / n,
            "tablestore.bytes_written": self.io.bytes_written / n,
            "tablestore.bytes_linked": self.io.bytes_linked / n,
            "tablestore.live_bytes": live,
            "tablestore.write_amp": self.io.bytes_written / max(1, self.traced_input_bytes),
            "tablestore.space_amp": live / max(1, live_docs),
            "incremental.kept_frac": len(self.kept) / max(1, offered),
            "incremental.dup_recall": len(dups - self.kept) / max(1, len(dups)),
            "incremental.retire_s": self.retire_s,
        }


WORKLOADS = {"cdc_ingest": CdcIngest, "store_ingest": StoreIngest}
