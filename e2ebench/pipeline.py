"""The engine compositions each workload drives.

Nothing here re-implements engine logic: every function composes the
engine's public functions the way a deployment would (seed the store,
harvest an archive into it, rebuild or refresh the typed index). Each
Spark action runs inside a tracer span named after the engine layer it
exercises, so the traced run can attribute time; in the untraced run
the spans are no-ops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idb_backend_spark.data.typed_schema import verbatim_projection
from idb_backend_spark.functions import enrichment as E
from idb_backend_spark.functions import grabbers
from idb_backend_spark.functions.flags import (
    dqs_score_for,
    fold_flags,
    raw_data_flags,
    standard_coord_flags,
)
from idb_backend_spark.functions.geo import with_molodensky_shift
from idb_backend_spark.operators import ingest as ing
from idb_backend_spark.operators import store as st
from idb_backend_spark.sources.dwca import DwcaArchive

#: the store's fixed layout and compaction policy (compact_history's
#: default threshold of 4 files per bucket)
NUM_BUCKETS = 8
MAX_FILES_PER_BUCKET = 4

DATA_TYPE = "map<string,string>"


# --------------------------------------------------------------------------
# typed projection + enrichment
# --------------------------------------------------------------------------


def enrich_records(latest: DataFrame) -> DataFrame:
    """Typed index rows for ``records`` entities of a latest view: the
    schema-driven verbatim projection (as ``records_typed_projection``)
    followed by the enrichment stack ``etl_enrichment_pipeline``
    composes — geo normalization, Molodensky shift, date fallback,
    vocabularies, flags and the data-quality score."""
    d = F.col("data")
    proj = _project(latest, "records")
    raw = proj.select(
        *[c for c in proj.columns if c != "data"],
        d["dwc:decimalLatitude"].alias("lat_s"),
        d["dwc:decimalLongitude"].alias("lon_s"),
        d["dwc:geodeticDatum"].alias("datum_s"),
        d["dwc:year"].alias("year_s"),
        d["dwc:month"].alias("month_s"),
        d["dwc:minimumElevationInMeters"].alias("elev_s"),
        d["dwc:basisOfRecord"].alias("bor_s"),
        d["dwc:taxonRank"].alias("rank_s"),
        d["dcterms:rights"].alias("rights_s"),
        d["dwc:vernacularName"].alias("vern_s"),
        raw_data_flags(d).alias("__raw_flags"),
        F.try_to_date(d["dwc:eventDate"]).alias("__event"),
    )
    raw = E.with_geo_normalize(raw, F.col("lat_s"), F.col("lon_s"))
    raw = with_molodensky_shift(
        raw, F.col("__geo_lat"), F.col("__geo_lon"), F.col("datum_s")
    )
    bor = E.fix_basis_of_record(F.col("bor_s"))
    rank = E.fix_taxon_rank(F.col("rank_s"))
    dc = E.date_fallback(
        F.col("__event"), F.col("year_s"), F.col("month_s"),
        F.lit(None), F.lit(None),
    )
    passthrough = [
        c for c in raw.columns
        if c not in ("basisofrecord", "taxonrank", "commonname")
        and not c.startswith("__") and not c.endswith("_s")
        and c not in ("lat_wgs84", "lon_wgs84", "datum_flag")
    ]
    values = raw.select(
        *passthrough,
        F.round("lat_wgs84", 6).alias("lat"),
        F.round("lon_wgs84", 6).alias("lon"),
        dc.alias("datecollected"),
        grabbers.float_grabber("elev_s").alias("minelevation"),
        grabbers.int_grabber("year_s").alias("year"),
        bor["value"].alias("basisofrecord"),
        rank["value"].alias("taxonrank"),
        E.license_lookup(F.col("rights_s")).alias("license"),
        grabbers.collect_common_names(F.col("vern_s")).alias("commonnames"),
        "__flag_pre_flip", "__flag_bounds", "__flag_low_precision",
        "datum_flag", "__raw_flags",
        grabbers.getfield(F.col("bor_s")).isNotNull().alias("__bor_filled"),
        grabbers.getfield(F.col("rank_s")).alias("__rank_v"),
    )
    bor_f = E.bor_flags_from_staged(
        F.col("__bor_filled"), F.col("basisofrecord")
    )
    rank_f = E.taxon_rank_flags_from_staged(
        F.col("__rank_v"), F.col("taxonrank")
    )
    flags = F.concat(
        fold_flags(
            F.col("__flag_pre_flip"), F.col("__flag_bounds"),
            F.col("__flag_low_precision"), F.col("datum_flag"),
            *standard_coord_flags(F.col("lat"), F.col("lon")),
            E.date_bounds_flag(F.col("datecollected")),
            bor_f["flag_removed"], bor_f["flag_invalid"],
            rank_f["flag_replaced"], rank_f["flag_removed"],
        ),
        F.col("__raw_flags"),
    )
    out = values.withColumn("flags", flags).drop(
        "__flag_pre_flip", "__flag_bounds", "__flag_low_precision",
        "datum_flag", "__raw_flags", "__bor_filled", "__rank_v",
    )
    out = out.withColumn(
        "geopoint",
        F.when(
            F.col("lat").isNotNull() & F.col("lon").isNotNull(),
            F.struct(F.col("lat").alias("lat"), F.col("lon").alias("lon")),
        ),
    )
    return out.withColumn(
        "dqs",
        F.round(
            dqs_score_for("records", F.col("flags"), columns=out.columns), 6
        ),
    )


def media_rows(latest: DataFrame) -> DataFrame:
    """The media lookup table: typed projection of ``mediarecords``."""
    d = F.col("data")
    proj = _project(latest, "mediarecords")
    return proj.select(
        "uuid", "parent", "modified",
        E.access_uri(
            d["ac:accessURI"], d["ac:bestQualityAccessURI"],
            d["dcterms:identifier"], d["dc:identifier"],
            d["ac:accessURI"].isNotNull()
            | d["ac:bestQualityAccessURI"].isNotNull(),
        ).alias("accessuri"),
        d["dc:format"].alias("format"),
        F.col("type").alias("mediatype"),
    )


def _project(latest: DataFrame, record_type: str) -> DataFrame:
    """The schema-driven verbatim projection of one entity type, keeping
    the store's uuid/parent/modified (the projection's own ``uuid`` and
    ``etag`` read raw-data keys the harvested records do not carry)."""
    keep = {"uuid": "__uuid", "parent": "__parent", "modified": "__modified"}
    src = latest.filter(F.col("type") == record_type).select(
        *[F.col(k).alias(v) for k, v in keep.items()], "data"
    )
    proj = verbatim_projection(
        src, record_type, keep=list(keep.values()) + ["data"]
    ).drop("uuid", "etag")
    return proj.withColumnsRenamed({v: k for k, v in keep.items()})


def search_frames(history: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A lighter index for the request stream: the typed projection
    with the year and geopoint the queries filter on, no enrichment."""
    latest = st.latest_view(history)
    proj = _project(latest, "records")
    d = F.col("data")
    lat = grabbers.float_grabber(d["dwc:decimalLatitude"])
    lon = grabbers.float_grabber(d["dwc:decimalLongitude"])
    records = proj.select(
        *[c for c in proj.columns if c != "data"],
        grabbers.int_grabber(d["dwc:year"]).alias("year"),
        F.when(lat.isNotNull() & lon.isNotNull(),
               F.struct(lat.alias("lat"), lon.alias("lon"))).alias("geopoint"),
    )
    return records, media_rows(latest)


def write_index(tracer, records: DataFrame, media: DataFrame,
                index_dir: str) -> int:
    """Execute an index build: materialize the records (the enrichment
    work), then write both tables through the index sink. Returns the
    records written. The store's latest view is computed inside the
    enrichment stage: the bucketed history needs no exchange for it."""
    from idb_backend_spark.export.sink import write_index_table

    with tracer.span("etl.enrich") as sp:
        records.persist()
        n = records.count()
        sp.plan(records)
    try:
        with tracer.span("sink.write_index"):
            write_index_table(
                records, os.path.join(index_dir, "records"),
                max_records_per_file=250_000,
            )
            write_index_table(media, os.path.join(index_dir, "media"))
    finally:
        records.unpersist()
    return n


# --------------------------------------------------------------------------
# harvest: one archive into the store
# --------------------------------------------------------------------------


def _lookup(history: DataFrame, rsid: str) -> DataFrame:
    """The ingest kernel's lookup side for one recordset: its live
    children with the identifier the kernel claims for each."""
    live = st.latest_view(history).filter(F.col("parent") == rsid)
    ident = F.when(
        F.col("type") == "records",
        F.concat_ws("\\", "parent", F.col("data")["dwc:occurrenceID"]),
    ).otherwise(
        F.concat_ws(
            "\\", "parent", F.lit("media"), F.col("data")["dcterms:identifier"]
        )
    )
    return live.select(
        F.col("parent").alias("rsid"), F.lit("rs").alias("scope"),
        F.col("type").alias("rtype"), F.lower(ident).alias("ident"),
        "uuid", "etag", "parent", F.lit(False).alias("deleted"),
    )


def _batch(outcomes: DataFrame, rows: DataFrame) -> DataFrame:
    """Store rows (uuid, type, parent, etag, data) for the outcomes that
    carry a live entity, with the archive row's terms as ``data``."""
    type_of = F.create_map(*[
        F.lit(x) for kv in ing.INGESTION_TYPES.items() for x in kv
    ])
    ok = outcomes.filter(F.col("outcome").isin("create", "update", "match"))
    return ok.join(
        rows.select("rsid", "fname", "seq", "rec"), ["rsid", "fname", "seq"]
    ).select(
        "uuid", type_of[F.col("rowtype")].alias("type"),
        F.col("rsid").alias("parent"), "etag",
        F.map_from_entries("rec").alias("data"),
    )


def initial_load(spark, table: str, archives: dict[str, str], modified):
    """Load every recordset's first archive in one ingest pass (the
    kernel groups by recordset) and write the history table."""
    opened = [DwcaArchive(p) for p in archives.values()]
    try:
        rows = None
        for rsid, archive in zip(archives, opened):
            r = ing.archive_rows(spark, archive, rsid)
            rows = r if rows is None else rows.unionByName(r)
        rows = rows.persist()
        outcomes = ing.ingest_subfiles(
            rows, spark.createDataFrame([], ing.LOOKUP_SCHEMA)
        )
        st.write_bucketed_history(
            _batch(outcomes, rows).select(
                "uuid", "type", "parent", "etag", F.lit(0).alias("version"),
                modified.alias("modified"), "data",
            ),
            table, NUM_BUCKETS,
        )
        rows.unpersist()
    finally:
        for a in opened:
            a.close()


def harvest_archive(
    tracer, spark, table: str, zip_path: str, rsid: str, modified
) -> dict:
    """One recordset archive from open to committed: read (sources),
    the ingest kernel, etag-gated versioning and the commit gate
    (store), bucketed append and threshold compaction. Returns the
    counters the output checks and layer metrics need."""
    history = spark.table(table)
    with tracer.span("sources.open"):
        archive = DwcaArchive(zip_path)
        rows = ing.archive_rows(spark, archive, rsid).persist()
        n_rows = rows.count()
    outcomes = None
    try:
        with tracer.span("ingest.kernel") as sp:
            outcomes = ing.ingest_subfiles(
                rows, _lookup(history, rsid)
            ).persist()
            n_out = outcomes.count()
            sp.plan(outcomes)
        batch = _batch(outcomes, rows)
        with tracer.span("store.merge"):
            res = st.apply_harvest_batch(
                history, batch, modified=modified, delete_parents=[rsid],
                cache_latest=True,
            )
            summary = {r["status"]: r["n"] for r in res.summary.collect()}
        try:
            with tracer.span("store.commit_gate"):
                existing = history.filter(
                    F.col("parent") == rsid
                ).select("uuid").distinct().count()
                committed = st.commit_gate(
                    [{"status": k, "n": v} for k, v in summary.items()],
                    existing,
                )
            if committed:
                with tracer.span("store.append"):
                    tombs = res.tombstones.withColumn(
                        "data", F.lit(None).cast(DATA_TYPE)
                    )
                    new = res.appended.select(st.HISTORY_COLS).unionByName(
                        tombs.select(st.HISTORY_COLS)
                    )
                    st.write_bucketed_history(
                        new, table, NUM_BUCKETS, mode="append"
                    )
        finally:
            res.cleanup()
        with tracer.span("store.compact"):
            compacted = st.compact_history(
                spark, table, NUM_BUCKETS, MAX_FILES_PER_BUCKET
            )
        return {"rows": n_rows, "outcomes": n_out, "summary": summary,
                "committed": committed, "compacted": compacted}
    finally:
        if outcomes is not None:
            outcomes.unpersist()
        rows.unpersist()
        archive.close()


def refresh_index(
    tracer, spark, table: str, index_path: str, watermark
) -> int:
    """The round's incremental reindex: entities touched since the
    watermark are re-enriched and upserted into the bucketed index
    store (deletes land as tombstone rows). Returns rows upserted."""
    from idb_backend_spark.streaming.incremental import (
        upsert_batch_into_store,
    )

    history = spark.table(table)
    with tracer.span("etl.incremental") as sp:
        upserts, deletes = st.incremental_reindex(
            history, watermark, enrich_records
        )
        up = upserts.select(
            "uuid", "modified", F.col("dqs"), F.col("flags"),
            F.col("genus"), F.col("geopoint"),
            F.lit(False).alias("deleted"),
        )
        gone = deletes.join(
            history.select("uuid", "etag", "modified"), "uuid"
        ).filter(F.col("etag") == st.TOMBSTONE_ETAG).select(
            "uuid", "modified",
        )
        gone = gone.select(
            "uuid", "modified", F.lit(None).cast("double").alias("dqs"),
            F.lit(None).cast("array<string>").alias("flags"),
            F.lit(None).cast("string").alias("genus"),
            F.lit(None).cast(up.schema["geopoint"].dataType).alias(
                "geopoint"
            ),
            F.lit(True).alias("deleted"),
        )
        delta = up.unionByName(gone).withColumn(
            "etag", F.sha1(F.to_json(F.struct("dqs", "flags", "deleted")))
        ).persist()
        n = delta.count()
        sp.plan(delta)
    try:
        with tracer.span("streaming.upsert"):
            upsert_batch_into_store(index_path, delta)
    finally:
        delta.unpersist()
    return n


# --------------------------------------------------------------------------
# store seeding (search set-up)
# --------------------------------------------------------------------------


def seed_store(spark, jsonl_path: str, table: str, media_every: int) -> int:
    """Load generated record versions into the bucketed history (the
    version number also orders ``modified``), with one media entity
    for every ``media_every``-th record. Returns the history's row
    count."""
    schema = (
        f"uuid string, parent string, etag string, version int, "
        f"data {DATA_TYPE}"
    )
    raw = spark.read.schema(schema).json(jsonl_path)
    # modified: 2024-01-01T00:00Z plus one day per version
    rec = raw.select(
        "uuid", F.lit("records").alias("type"), "parent", "etag", "version",
        F.timestamp_seconds(F.lit(1704067200) + 86400 * F.col("version"))
        .alias("modified"), "data",
    )
    num = F.conv(F.substring("uuid", -12, 12), 16, 10).cast("long")
    ident = F.concat(
        F.lit("http://images.example.org/"), F.col("parent"), F.lit("/"),
        num.cast("string"), F.lit(".jpg"),
    )
    first = (F.col("version") == 0) & (num % media_every == 0)
    med = raw.filter(first).select(
        F.concat(F.substring("uuid", 1, 24), F.lit("1"),
                 F.substring("uuid", -11, 11)).alias("uuid"),
        F.lit("mediarecords").alias("type"), "parent",
        F.sha1(ident).alias("etag"), F.lit(0).alias("version"),
        F.lit("2024-01-01").cast("timestamp").alias("modified"),
        F.create_map(
            F.lit("dcterms:identifier"), ident,
            F.lit("ac:accessURI"), ident,
            F.lit("dc:format"), F.lit("image/jpeg"),
            F.lit("dc:type"), F.lit("StillImage"),
        ).alias("data"),
    )
    st.write_bucketed_history(rec.unionByName(med), table, NUM_BUCKETS)
    return spark.table(table).count()

