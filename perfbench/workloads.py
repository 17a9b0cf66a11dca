"""The two workloads and the output checks.

A workload is a list of operations run as passes.  ``corpus_ops`` runs
each of its registered queries once per pass (build the DataFrame, then
a ``noop`` write), in an order drawn from the run's seed.
``lead_pipeline`` drains a one-file seed queue through the three
pipeline stages per pass: one stream, one micro-batch (tick).
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

# LLM-data / graph operators: eager jobs inside DataFrame construction
# (q128 PageRank over the memoised graph artifacts), the Python-UDF
# boundary (the q244 BMP, q245 WAV and q295 JPEG decoders) and one
# stateful stream (q25: dedup within a watermark, whose state store
# holds every key seen).
CORPUS_OPS = [
    "q128_pagerank", "q244_bmp_decode", "q245_wav_decode",
    "q295_jpeg_decode", "q25_stream_dedup",
]

LEAD_SEEDS_PER_FILE = 500
CITIES = ["London", "Manchester", "Leeds", "Bristol", "Glasgow", "Cardiff", "Dublin", "Belfast"]


# -- output check ----------------------------------------------------------


def _cell(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None:
        return "None"
    if isinstance(v, (float, np.floating)):
        return "NaN" if math.isnan(float(v)) else repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return repr(bool(v))
    if isinstance(v, np.integer):
        return repr(int(v))
    if v is pd.NaT:
        return "NaT"
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    try:
        if pd.isna(v):
            return "NaN"
    except (TypeError, ValueError):
        pass
    return repr(v)


def frame_digest(pdf) -> str:
    """Order-insensitive digest of a pandas frame: columns by name, rows
    sorted, every cell rendered the same way for both engines."""
    cols = sorted(pdf.columns)
    rows = sorted("|".join(_cell(v) for v in t)
                  for t in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.md5(("\t".join(cols) + "\n").encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


class DuckOracle:
    """The registry's ``ORACLE_SQL`` twins, run by DuckDB on the same
    input files."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, f)}')"
                )

    def digest(self, sql: str) -> str:
        return frame_digest(self.con.execute(sql).df())

    def close(self) -> None:
        self.con.close()


# -- lead pipeline ---------------------------------------------------------


def write_seed_file(queue_dir: str, salt: int, batch: int) -> None:
    """A stage-1 queue holding one parquet file of pending seed URLs:
    batch ``batch`` of the queue salted with ``salt``."""
    os.makedirs(queue_dir)
    ts = pa.timestamp("us", tz="UTC")
    created = pa.array([1_767_225_600_000_000] * LEAD_SEEDS_PER_FILE, ts)
    schema = pa.schema([
        ("id", pa.string()), ("url", pa.string()), ("location", pa.string()),
        ("status", pa.bool_()), ("notes", pa.string()),
        ("createdAt", ts), ("updatedAt", ts),
    ])
    ids = range(batch * LEAD_SEEDS_PER_FILE, (batch + 1) * LEAD_SEEDS_PER_FILE)
    city = [CITIES[i % len(CITIES)] for i in ids]
    table = pa.table([
        [f"gpu_{salt}_{i:08d}" for i in ids],
        [f"https://places.example.com/search?q=law+firms+{c}&page={i}&s={salt}"
         for i, c in zip(ids, city)],
        city,
        pa.nulls(LEAD_SEEDS_PER_FILE, pa.bool_()),
        pa.nulls(LEAD_SEEDS_PER_FILE, pa.string()),
        created, created,
    ], schema=schema)
    pq.write_table(table, os.path.join(queue_dir, f"seeds-{batch:03d}.parquet"))


ENTITY_TABLES = ("google_place_url_to_scrape", "place_entry", "company",
                 "firm_service", "company_to_firm_service", "crm_sync_event")


def write_lake_template(spark, root: str) -> None:
    """Catalog holding the empty entity tables plus the full practice-area
    vocabulary: the state every drain starts from."""
    from lawfirm_data_pipeline_spark import schemas
    from lawfirm_data_pipeline_spark.pipeline.generate import gen_firm_services
    from lawfirm_data_pipeline_spark.sources.lake import Catalog

    txn = Catalog(root).transaction()
    for name in ENTITY_TABLES:
        df = (gen_firm_services(spark) if name == "firm_service"
              else spark.createDataFrame([], schemas.ENTITY_TABLES[name]))
        txn.stage(name, df)
    txn.commit()


def lead_batch_fn(spark, catalog, tracer, ticks: list[float], retries: list[int]):
    """``foreachBatch`` body: one queue file through locate → scrape →
    sync, each stage committed in its own catalog transaction."""
    from lawfirm_data_pipeline_spark.pipeline.stages import (
        locate_stage,
        scrape_stage,
        sync_stage,
    )

    def commit(txn, tables) -> None:
        with tracer.span("lake.stage"):
            for name, df in tables.items():
                txn.stage(name, df)
        with tracer.span("lake.commit"):
            cid = txn.commit()
        retries.append(cid - txn.base_id - 1)

    def fn(batch_df, epoch_id: int) -> None:
        t0 = time.perf_counter()
        with tracer.span("tick", trace_id=f"tick{epoch_id}"):
            with tracer.span("pipeline.locate"):
                txn = catalog.transaction()
                res = locate_stage(batch_df, txn.read(spark, "place_entry"), with_metrics=False)
                queue = txn.read(spark, "google_place_url_to_scrape").unionByName(
                    res.tables["google_place_url_to_scrape"])
                commit(txn, {"place_entry": res.tables["place_entry"],
                             "google_place_url_to_scrape": queue})
            with tracer.span("pipeline.scrape"):
                txn = catalog.transaction()
                res = scrape_stage(
                    txn.read(spark, "place_entry"), txn.read(spark, "company"),
                    txn.read(spark, "firm_service"),
                    txn.read(spark, "company_to_firm_service"), with_metrics=False)
                commit(txn, res.tables)
            with tracer.span("pipeline.sync"):
                txn = catalog.transaction()
                res = sync_stage(
                    txn.read(spark, "company"), txn.read(spark, "firm_service"),
                    txn.read(spark, "company_to_firm_service"),
                    txn.read(spark, "crm_sync_event"), txn.read(spark, "place_entry"),
                    with_metrics=False)
                commit(txn, res.tables)
        ticks.append(time.perf_counter() - t0)

    return fn


def drain_queue(spark, queue_dir: str, lake: str, checkpoint: str, tracer,
                ticks: list[float], retries: list[int]) -> None:
    """One availableNow stream over the queue, one file per micro-batch."""
    from lawfirm_data_pipeline_spark import schemas
    from lawfirm_data_pipeline_spark.sources.lake import Catalog

    q = (
        spark.readStream.schema(schemas.GOOGLE_PLACE_URL_TO_SCRAPE)
        .option("maxFilesPerTrigger", 1)
        .parquet(queue_dir)
        .writeStream.foreachBatch(lead_batch_fn(spark, Catalog(lake), tracer, ticks, retries))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()


def lead_outcome(spark, lake: str) -> dict:
    """Synced leads (crm_sync_event.status = true) and an md5 over their
    sorted email addresses."""
    from pyspark.sql import functions as F

    from lawfirm_data_pipeline_spark.sources.lake import Catalog

    cat = Catalog(lake)
    ev = cat.read(spark, "crm_sync_event").filter(F.col("status"))
    co = cat.read(spark, "company")
    emails = sorted(
        r[0] or "" for r in ev.join(co, ev.companyId == co.id).select(co.emailAddress).collect()
    )
    return {"leads": len(emails),
            "emails_md5": hashlib.md5("\n".join(emails).encode()).hexdigest()}


def lake_bytes(lake: str) -> tuple[int, int]:
    """(bytes of every table version on disk, bytes of the versions the
    head commit references)."""
    from lawfirm_data_pipeline_spark.sources.lake import Catalog

    def size(path: str) -> int:
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(path) for f in fs)

    total = sum(size(os.path.join(lake, t)) for t in ENTITY_TABLES)
    _, head = Catalog(lake).snapshot()
    live = sum(size(os.path.join(lake, t, f"v={v}")) for t, v in head.items())
    return total, live


def fresh_lake(template: str, path: str) -> None:
    shutil.copytree(template, path)


def engine_digest(package_dir: str) -> str:
    """md5 over the engine's Python sources: the key of the cached lake
    template, so a change to the schemas, the practice-area vocabulary or
    the catalog layout builds a new template."""
    h = hashlib.md5()
    for d, dirs, files in os.walk(package_dir):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, package_dir).encode())
                with open(path, "rb") as fh:
                    h.update(hashlib.md5(fh.read()).digest())
    return h.hexdigest()[:16]
