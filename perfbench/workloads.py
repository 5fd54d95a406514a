"""The three workloads. Each is a closed loop of one kind of op, run by
one client thread against one Spark session.

A workload object owns its working directory and exposes:

Class attributes ``warmup_ops`` (untimed ops before the timed phase)
and ``min_timed_ops`` (the timed phase runs at least this many ops, so
a slow run still samples the same stretch of the warm-up curve) size a
run.

- ``bootstrap()``: create the persistent tables (untimed, part of
  set-up); returns the seconds it spent generating inputs;
- ``prepare(i)``: write op ``i``'s seeded inputs to a staging area
  (untimed; input generation is the benchmark's own work);
- ``op(i)``: the timed op, calling only public engine functions; returns
  the number of input rows it processed;
- ``after(i)``: untimed upkeep that keeps the working set constant
  (retention, ``clearCache``);
- ``snapshot()``: read the engine's outputs back through its public
  readers, while the session is still up;
- ``check()``: compare those outputs with DuckDB (or numpy) over the
  generated inputs, after the session stopped; returns mismatches;
- ``layer_extras()``: per-layer numbers that are not span counters.

Every engine call goes through a module or class attribute
(``inventory.run``, ``merge.ParquetUpsertTable`` ...), which is what
lets ``layers.wrap_engine`` put spans around them without touching the
engine.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import duckdb
import numpy as np
import pandas as pd

import gen
from group_2_shopware_enterprise_data_engineering_project_spark import registry, sinks
from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
    analytics,
    merge,
    minhash,
    similarity,
    text,
)
from group_2_shopware_enterprise_data_engineering_project_spark.pipelines import (
    crm,
    curation,
    inventory,
    pos,
    web,
)
from group_2_shopware_enterprise_data_engineering_project_spark.schemas import (
    WEB_EVENT_SCHEMA,
)
from group_2_shopware_enterprise_data_engineering_project_spark.streaming import (
    alerts,
    micro_batch,
)

# Appended POS fact files older than this many ops are deleted between
# ops, so the fact table's file count stays constant over a run.
FACT_RETAIN_OPS = 3
EMB_THRESHOLD = 0.95
JACCARD_THRESHOLD = 0.4  # curate_corpus's default


def _diff(con, name: str, got: pd.DataFrame, want_sql: str) -> list[str]:
    """Order-insensitive multiset comparison of `got` with the result
    of `want_sql`; returns mismatch descriptions."""
    con.register("got_df", got)
    want = con.sql(want_sql).df()
    con.register("want_df", want)
    cols = ", ".join(want.columns)
    extra, missing = (
        con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b})").fetchone()[0]
        for a, b in (("got_df", "want_df"), ("want_df", "got_df"))
    )
    con.unregister("got_df")
    con.unregister("want_df")
    if extra or missing:
        return [f"{name}: {len(got)} rows vs {len(want)} expected; {extra} unexpected, {missing} missing"]
    return []


class BatchEtl:
    """One op = one inventory JSONL batch through ``inventory.run`` and
    one POS CSV batch through ``pos.run`` (both ``collect_stats=True``).
    Inventory keys move between date partitions, so ``upsert_replace``
    rewrites the full snapshot; POS batches touch three dates, so the
    KPI's ``upsert_additive`` takes the partition-scoped path."""

    name = "batch_etl"
    warmup_ops = 2
    min_timed_ops = 5
    rows_per_op = gen.INV_ROWS + gen.POS_ROWS

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.inv_table = f"{work}/inventory"
        self.fact = f"{work}/pos_fact"
        self.kpi = f"{work}/pos_kpi"
        self.inputs = f"{work}/in"
        os.makedirs(self.inputs, exist_ok=True)
        self.applied: list[int] = []
        self._fact_files: list[set[str]] = []

    def _inv(self, i: int) -> str:
        return f"{self.inputs}/inventory_{i}.jsonl"

    def _pos(self, i: int) -> str:
        return f"{self.inputs}/pos_{i}.csv"

    def bootstrap(self) -> float:
        # Batch -1 holds every inventory key once, so the table starts at
        # its fixed size; the POS bootstrap creates the fact table
        # (create_or_overwrite) and the KPI table, and every later
        # batch takes the append path.
        t = time.monotonic()
        self.prepare(-1)
        gen_s = time.monotonic() - t
        self.op(-1)
        self.after(-1)
        return gen_s

    def prepare(self, i: int) -> None:
        gen.write_inventory_batch(self.seed, i, self._inv(i))
        gen.write_pos_batch(self.seed, i, self._pos(i))

    def op(self, i: int) -> int:
        inventory.run(self.spark, self._inv(i), self.inv_table)
        pos.run(self.spark, self._pos(i), self.fact, self.kpi)
        self.applied.append(i)
        return self.rows_per_op

    def after(self, i: int) -> None:
        self.spark.catalog.clearCache()
        now = set(glob.glob(f"{self.fact}/**/*.parquet", recursive=True))
        self._fact_files.append(now.difference(*self._fact_files))
        while len(self._fact_files) > FACT_RETAIN_OPS + 1:
            # set 0 is the bootstrap snapshot and stays, so the table
            # always exists; the oldest appended batch goes
            for f in self._fact_files.pop(1):
                os.remove(f)

    def snapshot(self) -> None:
        self.inv_out = merge.ParquetUpsertTable(self.spark, self.inv_table).read().toPandas()
        self.kpi_out = merge.ParquetUpsertTable(self.spark, self.kpi).read().toPandas()

    def layer_extras(self) -> dict[str, float]:
        return {}

    def check(self) -> list[str]:
        con = duckdb.connect()
        inv_files = [self._inv(i) for i in self.applied]
        pos_files = [self._pos(i) for i in self.applied]
        inv_cols = ["inventory_id", "product_id", "warehouse_id", "stock_level", "restock_threshold", "last_updated"]
        errs = _diff(
            con,
            "inventory table",
            self.inv_out[inv_cols],
            f"""
            WITH raw AS (
              SELECT * FROM read_json({inv_files!r}, format='newline_delimited',
                columns={{inventory_id: 'BIGINT', product_id: 'BIGINT', warehouse_id: 'BIGINT',
                          stock_level: 'BIGINT', restock_threshold: 'BIGINT', last_updated: 'DOUBLE'}})
            ), valid AS (
              SELECT * FROM raw
              WHERE inventory_id IS NOT NULL AND product_id IS NOT NULL
                AND warehouse_id IS NOT NULL AND stock_level IS NOT NULL
                AND last_updated IS NOT NULL AND stock_level >= 0
                AND (restock_threshold IS NULL OR restock_threshold >= 0)
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY inventory_id
                ORDER BY last_updated DESC, product_id DESC) AS rn
              FROM valid
            )
            SELECT {", ".join(inv_cols)} FROM ranked WHERE rn = 1
            """,
        )
        kpi = self.kpi_out.assign(
            cents=np.floor(self.kpi_out["total_sales"] * 100 + 0.5).astype(np.int64),
            date=pd.to_datetime(self.kpi_out["date"]),
        )
        errs += _diff(
            con,
            "POS KPI table",
            kpi[["product_id", "date", "cents"]],
            f"""
            WITH raw AS (
              SELECT DISTINCT * FROM read_csv({pos_files!r}, header=true,
                columns={{transaction_id: 'VARCHAR', store_id: 'INTEGER', product_id: 'INTEGER',
                          quantity: 'INTEGER', revenue: 'DOUBLE', discount_applied: 'DOUBLE',
                          timestamp: 'DOUBLE'}})
            )
            SELECT product_id,
                   CAST(CAST(to_timestamp(timestamp) AT TIME ZONE 'UTC' AS DATE) AS TIMESTAMP) AS date,
                   CAST(sum(CAST(floor(revenue * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
            FROM raw
            WHERE transaction_id IS NOT NULL AND store_id IS NOT NULL
              AND product_id IS NOT NULL AND quantity IS NOT NULL
              AND revenue IS NOT NULL AND timestamp IS NOT NULL
              AND quantity >= 0 AND revenue >= 0
            GROUP BY 1, 2
            """,
        )
        con.close()
        return errs


def _hour_of(part_dir: str) -> int:
    """Epoch hour of a year=/month=/day=/hour= leaf directory."""
    kv = dict(p.split("=", 1) for p in part_dir.split(os.sep) if "=" in p)
    ts = pd.Timestamp(
        year=int(kv["year"]), month=int(kv["month"]), day=int(kv["day"]), hour=int(kv["hour"]), tz="UTC"
    )
    return int(ts.timestamp()) // gen.HOUR


def _event_type_counts(df):
    from pyspark.sql import functions as F

    return df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


class StreamIngest:
    """One op = one tick: land one WEB and one CRM JSON file, drain them
    with ``web.run_stream`` / ``crm.run_stream`` and the st7-style
    ``micro_batch.accumulating_kpi_sink`` (availableNow, persistent
    checkpoints), then answer the Athena-style reads over the landed
    hour partitions. The op's wall time runs from files landed to reads
    answered."""

    name = "stream_ingest"
    warmup_ops = 2
    min_timed_ops = 5
    rows_per_op = gen.WEB_EVENTS + gen.CRM_EVENTS
    KINDS = ("web", "crm", "kpi")

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        for d in ("stage", "web_in", "crm_in", "kpi_in"):
            os.makedirs(f"{work}/{d}", exist_ok=True)
        self.web_out, self.crm_out = f"{work}/web", f"{work}/crm"
        self.kpi_table = merge.ParquetUpsertTable(spark, f"{work}/kpi")
        self.applied: list[int] = []
        self.files_per_tick: list[int] = []

    def _file(self, where: str, kind: str, i: int) -> str:
        return f"{self.work}/{where}/{kind}_{i:06d}.json"

    def bootstrap(self) -> float:
        return 0.0

    def prepare(self, i: int) -> None:
        gen.write_web_tick(self.seed, i, [self._file("stage", "web", i), self._file("stage", "kpi", i)])
        gen.write_crm_tick(self.seed, i, self._file("stage", "crm", i))

    def op(self, i: int) -> int:
        self._landed_at = time.time()
        for kind in self.KINDS:
            os.replace(self._file("stage", kind, i), self._file(f"{kind}_in", kind, i))
        w = self.work
        web.run_stream(self.spark, f"{w}/web_in", self.web_out, f"{w}/web_dlq", f"{w}/web_ckpt")
        crm.run_stream(
            self.spark, f"{w}/crm_in", self.crm_out, f"{w}/crm_dlq", f"{w}/crm_ckpt",
            fixed_ingestion_time=gen.crm_ingestion_time(i),
        )
        micro_batch.accumulating_kpi_sink(
            micro_batch.stream_json_source(self.spark, f"{w}/kpi_in", WEB_EVENT_SCHEMA),
            self.kpi_table,
            ("event_type",),
            ("n",),
            _event_type_counts,
            f"{w}/kpi_ckpt",
        )
        self.sessions = analytics.session_metrics(
            sinks.read_hour_partitioned(self.spark, self.web_out),
            session_cols=("session_id",),
            ts_col="event_time",
        ).collect()
        self.negative = alerts.negative_interaction_counts(
            sinks.read_hour_partitioned(self.spark, self.crm_out), watermark=None
        ).collect()
        self.applied.append(i)
        return self.rows_per_op

    def after(self, i: int) -> None:
        self.spark.catalog.clearCache()
        self.files_per_tick.append(
            sum(
                os.path.getmtime(f) >= self._landed_at
                for d in ("web", "crm", "web_dlq", "crm_dlq")
                for f in glob.glob(f"{self.work}/{d}/**/*.parquet", recursive=True)
            )
        )
        # Retention: keep the newest RETAIN_HOURS hour partitions. Late
        # events reach back WEB_LATE_HOURS < RETAIN_HOURS, so no event
        # ever lands in an hour that was already dropped.
        cutoff = gen.tick_hour(i) - gen.RETAIN_HOURS + 1
        for out in (self.web_out, self.crm_out):
            for d in glob.glob(f"{out}/year=*/month=*/day=*/hour=*"):
                if _hour_of(d) < cutoff:
                    shutil.rmtree(d)
        for kind in self.KINDS:
            os.remove(self._file(f"{kind}_in", kind, i))

    def snapshot(self) -> None:
        self.landed = sinks.read_hour_partitioned(self.spark, self.web_out).select("event_time", "user_id").toPandas()
        self.dlq_rows = sum(self.spark.read.parquet(f"{self.work}/{k}_dlq").count() for k in ("web", "crm"))
        self.kpi_out = self.kpi_table.read().toPandas()

    def layer_extras(self) -> dict[str, float]:
        timed = self.files_per_tick[self.warmup_ops:] or [0]
        return {"sinks.files_per_tick": float(np.mean(timed))}

    def check(self) -> list[str]:
        con = duckdb.connect()
        con.register("web_in", pd.concat([gen.web_tick(self.seed, i) for i in self.applied], ignore_index=True))
        con.register(
            "crm_in",
            pd.concat([gen.crm_tick(self.seed, i).assign(h=gen.tick_hour(i)) for i in self.applied], ignore_index=True),
        )
        # Retention after the last tick kept RETAIN_HOURS hours; that
        # tick's reads ran before it and saw one hour more.
        cutoff = gen.tick_hour(self.applied[-1]) - gen.RETAIN_HOURS + 1
        read_cutoff = cutoff - 1
        web_valid = f"""
            SELECT *, CAST(floor(timestamp / {gen.HOUR}) AS BIGINT) AS h FROM web_in
            WHERE session_id IS NOT NULL AND page IS NOT NULL AND device_type IS NOT NULL
              AND browser IS NOT NULL AND event_type IS NOT NULL AND timestamp IS NOT NULL
              AND timestamp > 0"""
        crm_valid = "customer_id IS NOT NULL AND interaction_type IS NOT NULL AND timestamp IS NOT NULL AND customer_id > 0"

        landed = pd.DataFrame(
            {
                "h": self.landed["event_time"].astype("int64") // 10**9 // gen.HOUR,
                "is_anon": self.landed["user_id"].str.startswith("anon"),
            }
        )
        errs = _diff(
            con,
            "landed WEB rows per (hour, is_anon)",
            landed.groupby(["h", "is_anon"]).size().reset_index(name="n").astype({"n": np.int64}),
            f"""SELECT h, user_id IS NULL AS is_anon, count(*) AS n
                FROM ({web_valid}) WHERE h >= {cutoff} GROUP BY 1, 2""",
        )
        negative = pd.DataFrame(
            [(int(r["window_start"].timestamp()) // gen.HOUR, r["negative_count"]) for r in self.negative],
            columns=["h", "n"],
        ).astype({"h": np.int64, "n": np.int64})
        errs += _diff(
            con,
            "last tick's negative CRM interactions per hour",
            negative,
            f"""SELECT h, count(*) AS n FROM crm_in
                WHERE {crm_valid} AND rating BETWEEN 1 AND 2 AND h >= {read_cutoff}
                GROUP BY 1""",
        )
        want_events = con.sql(f"SELECT count(*) FROM ({web_valid}) WHERE h >= {read_cutoff}").fetchone()[0]
        got_events = sum(r["n_events"] for r in self.sessions)
        if got_events != want_events:
            errs.append(f"last tick's session_metrics: {got_events} events vs {want_events} expected")
        want_dlq = con.sql(
            f"""SELECT (SELECT count(*) FROM web_in) - (SELECT count(*) FROM ({web_valid}))
                     + (SELECT count(*) FROM crm_in WHERE NOT ({crm_valid}))"""
        ).fetchone()[0]
        if self.dlq_rows != want_dlq:
            errs.append(f"DLQ: {self.dlq_rows} rows vs {want_dlq} expected")
        errs += _diff(
            con,
            "KPI event_type counts",
            self.kpi_out.astype({"n": np.int64}),
            "SELECT event_type, count(*) AS n FROM web_in GROUP BY 1",
        )
        con.close()
        return errs


class CorpusCuration:
    """One op = one corpus refresh: ``curation.curate_corpus`` over the
    seeded documents plus ``similarity.embedding_near_dup_pairs`` over
    the seeded embeddings, both collected to the driver. Every op's
    output is checked."""

    name = "corpus_curation"
    warmup_ops = 2
    min_timed_ops = 2
    rows_per_op = gen.DOCS + gen.EMB_ROWS

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        os.makedirs(work, exist_ok=True)
        self.docs_path = f"{work}/documents.parquet"
        self.emb_path = f"{work}/embeddings.parquet"
        self.results: list[tuple[int, list, list]] = []

    def bootstrap(self) -> float:
        t = time.monotonic()
        self.docs, self.emb = gen.write_corpus(self.seed, self.docs_path, self.emb_path)
        return time.monotonic() - t

    def prepare(self, i: int) -> None:
        pass

    def op(self, i: int) -> int:
        curated = curation.curate_corpus(self.spark.read.parquet(self.docs_path)).collect()
        pairs = similarity.embedding_near_dup_pairs(
            self.spark.read.parquet(self.emb_path), threshold=EMB_THRESHOLD
        ).collect()
        self.results.append((i, curated, pairs))
        return self.rows_per_op

    def after(self, i: int) -> None:
        self.spark.catalog.clearCache()

    def snapshot(self) -> None:
        pass  # every op's output was collected by the op itself

    def layer_extras(self) -> dict[str, float]:
        """minhash.pair_yield: verified pairs over LSH candidate pairs on
        the exact-dedup survivors curate_corpus feeds to MinHash, built
        from the operator's own stages."""
        from pyspark.sql import functions as F

        docs = self.spark.read.parquet(self.docs_path)
        keep = text.exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
        ss = minhash.shingle_sets(docs.join(keep, "doc_id", "semi"), "text", "doc_id", 3)
        sigs = ss.select("doc_id", minhash.minhash_signature(F.col("shingles"), minhash.NUM_PERM).alias("signature"))
        buckets = minhash.band_buckets(sigs, minhash.NUM_PERM, minhash.BAND_ROWS)
        cands = minhash.candidate_pairs(buckets, materialize=False)
        n_cands = cands.count()
        n_pairs = minhash.exact_jaccard(ss, cands).filter(F.col("jaccard") >= JACCARD_THRESHOLD).count()
        return {"minhash.pair_yield": n_pairs / n_cands if n_cands else 0.0}

    def check(self) -> list[str]:
        con = duckdb.connect()
        con.register("documents", self.docs.to_pandas())
        want = con.sql(registry.get("pipe_llm_curation").oracle).df()
        con.register("want_curated", want)
        vecs = np.stack(self.emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        a, b = np.nonzero(np.triu(unit @ unit.T, k=1) >= EMB_THRESHOLD)
        ids = self.emb.column("vec_id").to_numpy()
        want_pairs = {(int(min(ids[x], ids[y])), int(max(ids[x], ids[y]))) for x, y in zip(a, b)}
        errs = []
        for i, curated, pairs in self.results:
            got = pd.DataFrame([r.asDict() for r in curated], columns=list(want.columns))
            errs += _diff(con, f"op {i} curated corpus", got.astype(want.dtypes.to_dict()), "SELECT * FROM want_curated")
            got_pairs = {(r["vec_a"], r["vec_b"]) for r in pairs}
            if got_pairs != want_pairs:
                errs.append(f"op {i} embedding pairs: {len(got_pairs)} vs {len(want_pairs)} expected")
        con.close()
        return errs


WORKLOADS = {w.name: w for w in (BatchEtl, StreamIngest, CorpusCuration)}
