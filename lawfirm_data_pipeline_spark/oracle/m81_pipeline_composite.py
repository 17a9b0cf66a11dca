"""M81 — round-5 wave 2: the reference pipeline END-TO-END through the
OCC catalog (r4 verdict #6).

The reference runs three poll-loop workers over one shared Postgres
(readme.md:73-75): Places Locator → Website Scraper → CRM Sync, each
popping its queue table and writing the next stage's input.  q270
reproduces that topology verbatim in Spark terms: three
``foreachBatch`` streams run in dependency order, each micro-batch
committing its whole table set through ONE :class:`~..sources.lake.
Catalog` transaction (the q224 OCC machinery — data + status
write-back land atomically, exactly like the reference's per-record
Postgres transactions).  The streams are real Structured Streaming
queries (file sources over the catalog's committed version dirs,
drained by ``streaming.bounded.drain`` — the streaming analog of the
reference's queue polls).

The external-effect stubs (A18/A19/A20) here derive every field from
md5 residues instead of Spark ``hash()`` so DuckDB can replay the
ENTIRE pipeline — extraction fan-out, cleansing, URL/geo filters,
unique-key dedup insert, connectOrCreate, tri-state write-backs, the
CRM anti-join poll and duplicate detection — and the one-row-per-metric
summary (queue transitions + lead counts + an email checksum over the
synced leads) is value-hash gated end to end.

Scale: every stage is the set-oriented transform from
``pipeline/stages.py`` (scan-bound, no per-record loop), and the
commit point per micro-batch is one small file create regardless of
data volume; at 100 TB the same three streams run continuously with
the catalog arbitrating writer conflicts.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..pipeline.generate import (
    LEGAL_TAGS,
    TAG_SLICE_MOD,
    gen_bridge,
    gen_companies,
    gen_crm_sync_events,
    gen_firm_services,
    gen_place_entries,
)
from ..pipeline.stages import locate_stage, scrape_stage, sync_stage
from ..queries import query
from ..sources.lake import Catalog
from ..streaming.bounded import drain


def _mh(c) -> F.Column:
    """32-bit md5-derived integer — the cross-engine hash idiom
    (Spark conv(hex) ≡ DuckDB ('0x'||hex)::BIGINT)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def md5_places_extractor(seeds: DataFrame) -> DataFrame:
    """A19 stub with DuckDB-replayable derivations: one seed → 0-4
    candidate cards, same dirty-data mix as the default stub (US
    addresses, invalid URLs, blank names, messy phone text) but every
    residue comes from md5(url) so the oracle reproduces the fan-out."""
    hj = F.col("h") + F.col("j")
    return (
        seeds.select("location", "url")
        .withColumn("h", _mh(F.col("url")))
        .select(
            "location",
            "h",
            F.explode(
                F.when(F.col("h") % 5 == 0, F.expr("CAST(array() AS array<int>)"))
                .otherwise(F.sequence(F.lit(1), (F.col("h") % 5).cast("int")))
            ).alias("j"),
        )
        .select(
            "location",
            F.when(hj % 17 == 3, F.lit("  "))
            .otherwise(F.format_string("Scraped Firm %d-%d", F.col("h"), F.col("j")))
            .alias("raw_name"),
            F.when(hj % 13 == 5, F.lit("not a url"))
            .otherwise(
                F.format_string(
                    "https://scraped%d-%d.example.org", F.col("h"), F.col("j")
                )
            )
            .alias("raw_url"),
            F.when(hj % 11 == 2, F.format_string("%d Elm St, United States", F.col("j")))
            .when(hj % 11 == 7, F.lit(None).cast("string"))
            .otherwise(F.format_string("%d Oak Rd, Leeds", F.col("j")))
            .alias("raw_address"),
            F.when(hj % 7 == 1, F.lit(None).cast("string"))
            .otherwise(F.format_string("tel: +44 113 %04d (office)", hj % 10000))
            .alias("raw_phone_text"),
        )
    )


def md5_llm_extract(entries: DataFrame) -> DataFrame:
    """A18 stub, md5-replayable: url → (email, phone, address,
    services[] ⊂ LEGAL_TAGS); ~1/9 rows empty services (skip branch),
    ~1/10 null email (never-synced branch)."""
    tags = ", ".join(repr(t) for t in LEGAL_TAGS)
    h = _mh(F.col("url"))
    return entries.select(
        "id",
        h.alias("h"),
        "url",
        "name",
        "telephone",
        "address",
        "location",
    ).selectExpr(
        "id",
        "CASE WHEN h % 10 = 4 THEN NULL "
        "     ELSE printf('contact@site%d.example.org', h % 100000) END AS x_email",
        "coalesce(telephone, printf('+44 20 8%03d', h % 1000)) AS x_phone",
        "coalesce(address, 'unknown') AS x_address",
        f"CASE WHEN h % 9 = 0 THEN CAST(array() AS array<string>) "
        f"     ELSE slice(array({tags}), CAST(h % {TAG_SLICE_MOD} AS INT) + 1, "
        f"          CAST(h % 4 AS INT) + 1) END AS x_services",
        "name",
        "url",
        "location",
    )


def _run_stage_as_stream(spark, scratch, cat, src_table, sink_fn, schema):
    """One reference worker: a real Structured Streaming query whose
    file source is the committed version dir of ``src_table`` (the
    queue being polled) and whose foreachBatch body commits through a
    catalog transaction.  Draining the current queue state is the
    batch analog of the 3-second poll loop."""
    _, tables = cat.snapshot()
    src_dir = os.path.join(scratch, src_table, f"v={tables[src_table]}")
    drain(
        spark,
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .writeStream.foreachBatch(sink_fn)
        .option("checkpointLocation", os.path.join(scratch, f"ckpt_{src_table}")),
        f"pipeline_stage_{src_table}",
    )


@query(
    "q270_pipeline_composite",
    """
    WITH seeds AS (
        SELECT 'https://places.example.com/q' || c_custkey AS url
        FROM customer WHERE c_custkey % 7 = 0
    ),
    h1 AS (SELECT url, ('0x' || substring(md5(url), 1, 8))::BIGINT AS h
           FROM seeds),
    cards AS (
        SELECT h, t.j
        FROM h1, unnest(generate_series(1, CAST(h % 5 AS INT))) AS t(j)
    ),
    raw AS (
        SELECT h, j,
           CASE WHEN (h+j) % 17 = 3 THEN NULL
                ELSE printf('Scraped Firm %d-%d', h, j) END AS name,
           CASE WHEN (h+j) % 13 = 5 THEN NULL
                ELSE printf('https://scraped%d-%d.example.org', h, j) END AS url,
           (h+j) % 11 = 2 AS us_addr,
           CASE WHEN (h+j) % 11 = 7 THEN NULL
                WHEN (h+j) % 11 = 2 THEN printf('%d Elm St, United States', j)
                ELSE printf('%d Oak Rd, Leeds', j) END AS address,
           CASE WHEN (h+j) % 7 = 1 THEN NULL
                ELSE regexp_extract(
                       printf('tel: +44 113 %04d (office)', (h+j) % 10000),
                       '(\\+?\\d[\\d\\s()-]+)', 1) END AS telephone
        FROM cards
    ),
    pe0 AS (
        SELECT *, row_number() OVER (PARTITION BY url ORDER BY name) AS rn
        FROM raw WHERE NOT us_addr AND url IS NOT NULL
    ),
    pe AS (SELECT name, url, address, telephone FROM pe0 WHERE rn = 1),
    ex AS (
        SELECT pe.*, ('0x' || substring(md5(url), 1, 8))::BIGINT AS h2
        FROM pe WHERE name IS NOT NULL
    ),
    ext AS (
        SELECT name, url,
           CASE WHEN h2 % 10 = 4 THEN NULL
                ELSE printf('contact@site%d.example.org', h2 % 100000) END AS email,
           h2 % 9 = 0 AS skip,
           CASE WHEN h2 % 9 = 0 THEN 0 ELSE CAST(h2 % 4 AS INT) + 1 END AS n_tags,
           CAST(h2 % __TAG_SLICE_MOD__ AS INT) + 1 AS tag_start
        FROM ex
    ),
    companies AS (SELECT * FROM ext WHERE NOT skip),
    tag_names AS (
        SELECT DISTINCT t.i AS tag_idx
        FROM companies, unnest(generate_series(tag_start, tag_start + n_tags - 1)) AS t(i)
    ),
    crm AS (
        SELECT name, email,
               ('0x' || substring(md5(name), 1, 8))::BIGINT % 23 = 0 AS dup
        FROM companies WHERE email IS NOT NULL
    )
    SELECT * FROM (
        SELECT 'queue_done' AS metric,
               CAST(count(*) AS BIGINT) AS n FROM seeds
        UNION ALL SELECT 'queue_pending', 0
        UNION ALL SELECT 'pe_pending',
               (SELECT CAST(count(*) AS BIGINT) FROM pe WHERE name IS NULL)
        UNION ALL SELECT 'pe_done',
               (SELECT CAST(count(*) AS BIGINT) FROM ext WHERE NOT skip)
        UNION ALL SELECT 'pe_failed',
               (SELECT CAST(count(*) AS BIGINT) FROM ext WHERE skip)
        UNION ALL SELECT 'companies',
               (SELECT CAST(count(*) AS BIGINT) FROM companies)
        UNION ALL SELECT 'firm_services',
               (SELECT CAST(count(*) AS BIGINT) FROM tag_names)
        UNION ALL SELECT 'bridge_pairs',
               (SELECT CAST(coalesce(sum(n_tags), 0) AS BIGINT) FROM companies)
        UNION ALL SELECT 'crm_true',
               (SELECT CAST(count(*) AS BIGINT) FROM crm WHERE NOT dup)
        UNION ALL SELECT 'crm_false',
               (SELECT CAST(count(*) AS BIGINT) FROM crm WHERE dup)
        UNION ALL SELECT 'lead_email_ck',
               (SELECT CAST(coalesce(sum(
                    ('0x' || substring(md5(email), 1, 8))::BIGINT % 1000003
                ), 0) AS BIGINT) FROM crm WHERE NOT dup)
    )
    """.replace("__TAG_SLICE_MOD__", str(TAG_SLICE_MOD)),
)
def q270_pipeline_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """locate → scrape → sync as three drained streams over the
    shared OCC catalog; summary = queue-state transitions + lead counts
    + an email checksum over the synced leads, all DuckDB-replayed."""
    with tempfile.TemporaryDirectory(prefix="q270_", ignore_cleanup_errors=True) as scratch:
        cat = Catalog(scratch)
        seeds = (
            load_table(spark, sf_dir, "customer")
            .filter(F.col("c_custkey") % 7 == 0)
            .selectExpr(
                "printf('gpu_%08d', c_custkey) AS id",
                "'https://places.example.com/q' || CAST(c_custkey AS STRING) AS url",
                "c_mktsegment AS location",
                "CAST(NULL AS BOOLEAN) AS status",
                "CAST(NULL AS STRING) AS notes",
                "TIMESTAMP '2026-01-05 00:00:00' AS createdAt",
                "TIMESTAMP '2026-01-05 00:00:00' AS updatedAt",
            )
        )
        boot = cat.transaction()
        boot.stage("queue", seeds)
        boot.stage("place_entry", gen_place_entries(spark, 1).limit(0))
        boot.stage("company", gen_companies(spark, 1).limit(0))
        boot.stage("firm_service", gen_firm_services(spark).limit(0))
        boot.stage("bridge", gen_bridge(spark, 1).limit(0))
        boot.stage("crm_sync_event", gen_crm_sync_events(spark, 1).limit(0))
        boot.commit()

        def _st(txn, name: str, df: DataFrame) -> None:
            # bounded queue-state tables; AQE is off inside streaming
            # queries, so coalesce instead of writing 32 shard files
            # per tiny table (at scale these writes partition by the
            # natural key ranges instead)
            txn.stage(name, df.coalesce(1))

        def locate_sink(batch_df: DataFrame, batch_id: int) -> None:
            txn = cat.transaction()
            res = locate_stage(
                batch_df,
                txn.read(spark, "place_entry"),
                extractor=md5_places_extractor,
                with_metrics=False,
            )
            _st(txn, "queue", res.tables["google_place_url_to_scrape"])
            _st(txn, "place_entry", res.tables["place_entry"])
            txn.commit()

        def scrape_sink(batch_df: DataFrame, batch_id: int) -> None:
            txn = cat.transaction()
            res = scrape_stage(
                batch_df,
                txn.read(spark, "company"),
                txn.read(spark, "firm_service"),
                txn.read(spark, "bridge"),
                llm_extract=md5_llm_extract,
                with_metrics=False,
            )
            _st(txn, "place_entry", res.tables["place_entry"])
            _st(txn, "company", res.tables["company"])
            _st(txn, "firm_service", res.tables["firm_service"])
            _st(txn, "bridge", res.tables["company_to_firm_service"])
            txn.commit()

        def sync_sink(batch_df: DataFrame, batch_id: int) -> None:
            txn = cat.transaction()
            res = sync_stage(
                batch_df,
                txn.read(spark, "firm_service"),
                txn.read(spark, "bridge"),
                txn.read(spark, "crm_sync_event"),
                txn.read(spark, "place_entry"),
                crm_duplicate_pred=_mh(F.col("name")) % 23 == 0,
                with_metrics=False,
            )
            _st(txn, "company", res.tables["company"])
            _st(txn, "bridge", res.tables["company_to_firm_service"])
            _st(txn, "crm_sync_event", res.tables["crm_sync_event"])
            _st(txn, "place_entry", res.tables["place_entry"])
            txn.commit()

        _run_stage_as_stream(spark, scratch, cat, "queue", locate_sink, seeds.schema)
        _run_stage_as_stream(
            spark, scratch, cat, "place_entry", scrape_sink,
            gen_place_entries(spark, 1).schema,
        )
        _run_stage_as_stream(
            spark, scratch, cat, "company", sync_sink,
            gen_companies(spark, 1).schema,
        )

        snap = cat.snapshot()
        queue = cat.read(spark, "queue", snap)
        pe = cat.read(spark, "place_entry", snap)
        company = cat.read(spark, "company", snap)
        dim = cat.read(spark, "firm_service", snap)
        bridge = cat.read(spark, "bridge", snap)
        events = cat.read(spark, "crm_sync_event", snap)

        def _cnt(pred) -> F.Column:
            return F.coalesce(
                F.sum(F.when(pred, F.lit(1)).cast("long")), F.lit(0)
            ).cast("long")

        def _stack(df: DataFrame, metrics: dict) -> DataFrame:
            """One scan per table: conditional sums, then unpivot to
            (metric, n) rows."""
            agg = df.agg(*[c.alias(k) for k, c in metrics.items()])
            pairs = ", ".join(f"'{k}', {k}" for k in metrics)
            return agg.selectExpr(
                f"stack({len(metrics)}, {pairs}) AS (metric, n)"
            )

        synced = company.join(
            events.filter(F.col("status")).select(F.col("companyId").alias("id")),
            "id",
            "left_semi",
        )
        t = F.col("status")
        out = (
            _stack(queue, {"queue_done": _cnt(t), "queue_pending": _cnt(t.isNull())})
            .unionByName(_stack(pe, {
                "pe_pending": _cnt(t.isNull()),
                "pe_done": _cnt(t),
                "pe_failed": _cnt(~t),
            }))
            .unionByName(_stack(company, {"companies": _cnt(F.lit(True))}))
            .unionByName(_stack(dim, {"firm_services": _cnt(F.lit(True))}))
            .unionByName(_stack(bridge, {"bridge_pairs": _cnt(F.lit(True))}))
            .unionByName(_stack(events, {"crm_true": _cnt(t), "crm_false": _cnt(~t)}))
            .unionByName(_stack(synced, {
                "lead_email_ck": F.coalesce(
                    F.sum(_mh(F.col("emailAddress")) % 1000003), F.lit(0)
                ).cast("long"),
            }))
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
