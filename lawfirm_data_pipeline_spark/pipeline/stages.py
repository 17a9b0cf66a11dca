"""The three reference pipeline stages as set-oriented batch transforms.

Reference architecture (SURVEY.md §3): three sequential poll-loop workers,
one record per 3-second iteration.  Spark re-expression: each stage is a
pure function (tables in → tables out) processing the WHOLE pending set
per invocation — the same function serves batch runs and
``foreachBatch`` micro-batches (streaming/queue.py).  Throughput ceiling
moves from the reference's ≤0.33 rec/s/worker to scan-bound parallelism.

External effects are isolated behind injectable callables with
deterministic defaults, so correctness tests stay hash-stable
(SURVEY.md §5.3):

  * ``extractor``  — A19, the Google-Places page scrape
    (extractGooglePlaces.ts:137-349): seed URL row → N place rows.
  * ``llm_extract``— A18, the LLM website extraction
    (scrapeWebsite.ts:183-194): url → {email, phone, address, services[]}.
  * CRM duplicate detection — A20 (activities/syncCrm.ts:324-331):
    deterministic predicate standing in for the `#ErrorAlert` probe.

All stubs are column expressions (not UDFs): the real integrations would
be Pandas-UDF/mapInPandas boundaries, but the *plumbing* — schemas, status
write-back, skip branches — is what these stages own and test.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import (
    extract_phone,
    is_us_address,
    is_us_phone,
    normalize_tags,
    trim_or_null,
    try_parse_url,
)
from ..operators.mutations import (
    connect_or_create,
    dedup_insert,
    merge_update,
    nested_create_1to1,
    update_many,
)
from ..operators.relations import hydrate_many_to_many, relation_none
from ..pin import pin
from .generate import LEGAL_TAGS, TAG_SLICE_MOD


@dataclass
class StageResult:
    """Tables after a stage plus the counters the reference tracks with
    Effect Metric counters (A24, locator.ts:41-49)."""

    tables: dict[str, DataFrame]
    metrics: dict[str, int] = field(default_factory=dict)


# ---------------------------------------------------------------------------
# Stage 1 — Places Locator (runner/locator.ts + placesLocator workflow)
# ---------------------------------------------------------------------------


def default_places_extractor(seeds: DataFrame) -> DataFrame:
    """Deterministic A19 stub: one seed queue row → 0-4 candidate places.

    Mirrors the paginated card extraction's *output shape* (name, url,
    address, phone text, location), including the dirty data the real
    scraper meets: US addresses, messy phone text, invalid URLs, blank
    names.  Derivation is pure hash arithmetic on the seed id.
    """
    return (
        seeds.selectExpr("id AS seed_id", "location", "abs(hash(url)) AS h")
        .selectExpr(
            "seed_id",
            "location",
            "h",
            # 0-4 cards per seed; 0-card seeds vanish via empty-array explode
            "explode(CASE WHEN h % 5 = 0 THEN array() "
            "             ELSE sequence(1, CAST(h % 5 AS INT)) END) AS j",
        )
        .selectExpr(
            "seed_id",
            "location",
            "CASE WHEN (h + j) % 17 = 3 THEN '  ' ELSE printf('Scraped Firm %d-%d', h % 100000, j) END AS raw_name",
            "CASE WHEN (h + j) % 13 = 5 THEN 'not a url' "
            "     ELSE printf('https://scraped%d-%d.example.org', h % 100000, j) END AS raw_url",
            "CASE WHEN (h + j) % 11 = 2 THEN printf('%d Elm St, United States', j) "
            "     WHEN (h + j) % 11 = 7 THEN NULL "
            "     ELSE printf('%d Oak Rd, Leeds', j) END AS raw_address",
            "CASE WHEN (h + j) % 7 = 1 THEN NULL "
            "     ELSE printf('tel: +44 113 %04d (office)', (h + j) % 10000) END AS raw_phone_text",
        )
    )


def locate_stage(
    queue: DataFrame,
    place_entries: DataFrame,
    extractor=default_places_extractor,
    with_metrics: bool = True,
) -> StageResult:
    """Process every pending stage-1 queue row (status IS NULL).

    Per row: extract candidate places (A19 stub), clean (A13-A15), drop
    US businesses (A12) and invalid URLs, dedup-insert into place_entry
    by unique url (A8), then write back queue status=true (A5).  The
    reference marks rows failed on scrape exceptions; the deterministic
    stub cannot fail, so the failure write-back path is exercised by
    injecting a failing extractor in tests.
    """
    pending = queue.filter(F.col("status").isNull())
    raw = extractor(pending)

    cleaned = (
        raw.withColumn("name", trim_or_null("raw_name"))
        .withColumn("url", try_parse_url("raw_url"))
        .withColumn("telephone", extract_phone("raw_phone_text"))
        .withColumn("address", trim_or_null("raw_address"))
        .filter(~is_us_address(F.col("address")))  # A12; NULL address passes
        .filter(F.col("url").isNotNull())  # A15
        .withColumn("id", F.concat(F.lit("pe_"), F.sha2(F.col("url"), 256).substr(1, 24)))
        .withColumn("status", F.lit(None).cast("boolean"))
        .withColumn("notes", F.lit(None).cast("string"))
        .withColumn("createdAt", F.to_timestamp(F.lit("2026-02-01 00:00:00")))
        .withColumn("updatedAt", F.to_timestamp(F.lit("2026-02-01 00:00:00")))
        .select(*place_entries.columns)
    )

    new_entries = dedup_insert(place_entries, cleaned, "url", tiebreak=["id"])
    done = pending.select("id").withColumn("status", F.lit(True))
    new_queue = merge_update(queue, done, ["id"], ["status"])

    tables = {"google_place_url_to_scrape": new_queue, "place_entry": new_entries}
    if not with_metrics:
        return StageResult(tables=tables)
    return StageResult(
        tables=tables,
        metrics={
            "locator_processed": pending.count(),
            "locator_entries_added": new_entries.count() - place_entries.count(),
        },
    )


# ---------------------------------------------------------------------------
# Stage 2 — Website Scraper (runner/websiteScraper.ts + placeWebsiteScraper)
# ---------------------------------------------------------------------------


def default_llm_extract(entries: DataFrame) -> DataFrame:
    """Deterministic A18 stub: url → (email, phone, address, services[]).

    The real activity is an LLM browser agent returning a zod-validated
    struct (scrapeWebsite.ts:183-194).  The stub derives every field from
    a hash of the url and constrains services to the tag vocabulary with
    the same array-of-enum shape; ~1/9 rows get an empty services array to
    populate the skip branch (scrapeWebsite.ts:211).
    """
    tags = ", ".join(repr(t) for t in LEGAL_TAGS)
    return entries.selectExpr(
        "id",
        "abs(hash(url)) AS h",
        "url",
        "name",
        "telephone",
        "address",
        "location",
    ).selectExpr(
        "id",
        "CASE WHEN h % 10 = 4 THEN NULL ELSE printf('contact@site%d.example.org', h % 100000) END AS x_email",
        "coalesce(telephone, printf('+44 20 8%03d', h % 1000)) AS x_phone",
        "coalesce(address, 'unknown') AS x_address",
        f"CASE WHEN h % 9 = 0 THEN array() "
        f"     ELSE slice(array({tags}), CAST(h % {TAG_SLICE_MOD} AS INT) + 1, "
        f"          CAST(h % 4 AS INT) + 1) END AS x_services",
        "name",
        "url",
        "location",
    )


def scrape_stage(
    place_entries: DataFrame,
    company: DataFrame,
    firm_service: DataFrame,
    bridge: DataFrame,
    llm_extract=default_llm_extract,
    with_metrics: bool = True,
) -> StageResult:
    """Process every pending place entry: LLM-extract (A18 stub), skip
    US-phone and empty-services rows (A11/A12), create companies with
    connectOrCreate services (A9), write back tri-state status.

    Skipped rows are marked failed (status=false) with the reason the
    reference logs; successes true.
    """
    pending = place_entries.filter(F.col("status").isNull() & F.col("name").isNotNull())
    # the extraction feeds THREE consumers (kept → companies, kept →
    # service tags, and the status write-back) and each staged table is
    # written — and therefore evaluated — separately; materialize the
    # batch-sized extraction once instead of re-running the stub per
    # table write
    extracted = pin(llm_extract(pending))

    skip = is_us_phone(F.col("x_phone")) | (F.size("x_services") == 0)
    kept = extracted.filter(~skip)
    new_companies = kept.select(
        F.concat(F.lit("co_"), F.sha2(F.col("name"), 256).substr(1, 24)).alias("id"),
        F.col("name"),
        F.col("url").alias("websiteUrl"),
        F.col("x_email").alias("emailAddress"),
        F.col("x_phone").alias("phoneNumber"),
        F.col("x_address").alias("address"),
        F.lit("Legal").alias("industry"),
        F.col("location"),
        F.to_timestamp(F.lit("2026-02-02 00:00:00")).alias("createdAt"),
        F.to_timestamp(F.lit("2026-02-02 00:00:00")).alias("updatedAt"),
    )
    # company.name is unique (schema.prisma:50) — duplicate creates swallowed
    merged_companies = dedup_insert(company, new_companies, "name", tiebreak=["id"])

    facts_with_tags = kept.select(
        F.concat(F.lit("co_"), F.sha2(F.col("name"), 256).substr(1, 24)).alias("id"),
        F.array_distinct("x_services").alias("tags"),  # A16 in-row set dedup
    )
    new_dim, new_bridge = connect_or_create(facts_with_tags, firm_service, bridge)

    # status write-back: skipped → false, processed → true (A5)
    status_update = extracted.select(
        "id", F.when(skip, F.lit(False)).otherwise(F.lit(True)).alias("status")
    )
    new_entries = merge_update(place_entries, status_update, ["id"], ["status"])

    tables = {
        "place_entry": new_entries,
        "company": merged_companies,
        "firm_service": new_dim,
        "company_to_firm_service": new_bridge,
    }
    if not with_metrics:
        return StageResult(tables=tables)
    return StageResult(
        tables=tables,
        metrics={
            "scraper_processed": extracted.count(),
            "scraper_skipped": extracted.filter(skip).count(),
        },
    )


# ---------------------------------------------------------------------------
# Stage 3 — CRM Sync (runner/syncCrm.ts + syncCrmPlaceDetail workflow)
# ---------------------------------------------------------------------------


def sync_stage(
    company: DataFrame,
    firm_service: DataFrame,
    bridge: DataFrame,
    crm_sync_event: DataFrame,
    place_entry: DataFrame,
    crm_duplicate_pred: Column | None = None,
    with_metrics: bool = True,
) -> StageResult:
    """Process every never-synced company with an email (the A3 anti-join
    poll, syncCrm.ts:60-69).

    Zero-services companies: delete + re-queue their place entry by
    (name, url) (A6/A7, syncCrm.ts:107-125).  Others: push to CRM —
    duplicate detection (A20) marks status=false, success true — and
    append the 1:1 sync event (A10).
    """
    if crm_duplicate_pred is None:
        # deterministic stand-in for the #ErrorAlert duplicate probe
        crm_duplicate_pred = F.abs(F.hash(F.col("name"))) % 23 == 0

    eligible = relation_none(
        company.filter(F.col("emailAddress").isNotNull()),
        crm_sync_event,
        "id",
        "companyId",
    )
    # the hydrated eligible set splits into the zero-services and
    # with-services branches, which between them feed all four staged
    # tables (each written — and evaluated — separately); materialize
    # the anti-join + M:N hydration once
    hydrated = pin(
        hydrate_many_to_many(
            eligible, bridge, firm_service,
            fact_key="id", bridge_fact_fk="A", bridge_dim_fk="B",
            dim_key="id", dim_value="name", array_col="services",
        )
    )

    no_services = hydrated.filter(F.size("services") == 0)
    with_services = hydrated.filter(F.size("services") > 0)

    # A7: delete zero-services companies (+ bridge cascade is vacuous here)
    doomed_ids = no_services.select(F.col("id").alias("__k"))
    new_company = company.join(doomed_ids, company["id"] == F.col("__k"), "left_anti")
    new_bridge = bridge.join(doomed_ids, bridge["A"] == F.col("__k"), "left_anti")

    # A6: re-queue the matching place entry by composite (name, url)
    requeue_keys = no_services.select(
        F.col("name"), F.col("websiteUrl").alias("url")
    )
    new_place_entry = (
        place_entry.alias("pe")
        .join(F.broadcast(requeue_keys.alias("rq")),
              (F.col("pe.name") == F.col("rq.name")) & (F.col("pe.url") == F.col("rq.url")),
              "left")
        .withColumn("status", F.when(F.col("rq.url").isNotNull(), F.lit(None).cast("boolean")).otherwise(F.col("pe.status")))
        .select("pe.id", "pe.name", "pe.url", "pe.address", "pe.telephone",
                "pe.location", "status", "pe.notes", "pe.createdAt", "pe.updatedAt")
    )

    # A20 + A10: CRM push result → nested 1:1 create
    outcomes = with_services.select(
        F.concat(F.lit("cse_"), F.sha2(F.col("id"), 256).substr(1, 24)).alias("id"),
        F.col("id").alias("companyId"),
        F.when(crm_duplicate_pred, F.lit(False)).otherwise(F.lit(True)).alias("status"),
        F.lit(None).cast("string").alias("notes"),
        F.to_timestamp(F.lit("2026-02-03 00:00:00")).alias("createdAt"),
        F.to_timestamp(F.lit("2026-02-03 00:00:00")).alias("updatedAt"),
    )
    new_events = nested_create_1to1(crm_sync_event, outcomes, "companyId")

    tables = {
        "company": new_company,
        "company_to_firm_service": new_bridge,
        "crm_sync_event": new_events,
        "place_entry": new_place_entry,
    }
    if not with_metrics:
        return StageResult(tables=tables)
    return StageResult(
        tables=tables,
        metrics={
            "crm_eligible": eligible.count(),
            "crm_deleted_no_services": no_services.count(),
            "crm_synced": with_services.count(),
        },
    )
