"""The workloads: set-up, one closed-loop operation, output checks.

Each workload leans on different engine layers (see README.md). A run
is: ``prepare()`` (seeded inputs; repeated for the set-up median),
``warm()`` (store seeding and warm-up, once), then ``step()`` in a
closed loop until the measured time is spent, then ``check()`` outside
the timed phase. ``step()`` returns the operation's latency samples;
the runner owns the clock.
"""

from __future__ import annotations

import csv
import io
import os
import time
import zipfile

from pyspark.sql import functions as F

import gen
import pipeline as P
from stats import median, tail_percentile


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _inside(lat: float, lon: float, ring: list) -> bool:
    """Ray-casting point-in-polygon over [lon, lat] vertices."""
    if ring[0] == ring[-1]:
        ring = ring[:-1]
    inside = False
    for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
        if y1 != y2 and ((y1 > lat) != (y2 > lat)) and (
            lon < (lat - y1) * ((x2 - x1) / (y2 - y1)) + x1
        ):
            inside = not inside
    return inside


class Workload:
    name = ""
    unit = "records"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.units = 0  # records / requests / documents done
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}

    def reset(self) -> None:
        """Forget what set-up and warm-up did; the measured phase starts."""
        self.units, self.samples, self.layer = 0, {}, {}

    def sample(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def count(self, key: str, value: float = 1) -> None:
        self.layer[key] = self.layer.get(key, 0) + value

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"CHECK FAILED [{self.name}]: {what}", flush=True)

    def p50(self, key: str, scale: float = 1.0) -> tuple[float, int]:
        xs = self.samples.get(key, [])
        return (median(xs) * scale if xs else float("nan")), len(xs)


# --------------------------------------------------------------------------


class Harvest(Workload):
    """Re-harvest rounds over seeded DwC-A recordsets. Each round scans
    every recordset's archive, ingests the republished ones through the
    write path and then refreshes the index store incrementally."""

    name = "harvest"
    table = "history"

    def prepare(self) -> None:
        ctx = self.ctx
        self.dir = os.path.join(ctx.tmp, "archives")
        os.makedirs(self.dir)
        self.index_path = os.path.join(ctx.tmp, "index_store")
        self.rounds = list(gen.harvest_rounds(ctx.seed))
        # round -> every recordset's archive as published in that round
        self.published: list[dict[str, str]] = []
        self.sizes: dict[str, int] = {}
        current: dict[str, str] = {}
        for rnd, live, truth in self.rounds:
            for rs in sorted(live if rnd == 0 else truth):
                p = os.path.join(self.dir, f"r{rnd:02d}_{rs}.zip")
                self.sizes[p] = gen.write_archive(p, ctx.seed, rs, live[rs])
                current[rs] = p
            self.published.append(dict(current))

    @staticmethod
    def _modified(rnd: int):
        return F.lit(f"2024-01-01 00:{rnd:02d}:00").cast("timestamp")

    def warm(self) -> None:
        """The initial load: round 0, one ingest pass over every
        recordset, which also warms the reader, the ingest kernel and
        the bucketed writer. No re-harvest round runs before the
        measured phase: at local[4] a second round is no faster than
        the first (archive 9-11 s, refresh 11-15 s), so a warm round
        would add 25 s of set-up and buy nothing."""
        first = self.published[0]
        P.initial_load(self.spark, self.table, first, self._modified(0))
        self.etags = {rs: _md5(p) for rs, p in first.items()}
        self.input_bytes = sum(self.sizes[p] for p in first.values())
        self.summaries: dict[tuple[int, str], dict] = {}
        self.changed: dict[int, list[str]] = {}
        self.rnd = 0

    def step(self) -> list[tuple[str, float]]:
        """One round: scan, harvest what changed, refresh the index."""
        self.rnd += 1
        rnd = self.rnd
        if rnd >= len(self.rounds):
            raise RuntimeError("harvest: generated rounds exhausted")
        start = time.perf_counter()
        with self.tracer.span("sources.scan"):
            changed = []
            for rs, path in sorted(self.published[rnd].items()):
                etag = _md5(path)
                if etag != self.etags[rs]:
                    changed.append((rs, path, etag))
        self.changed[rnd] = [rs for rs, _, _ in changed]
        self.count("sources.archives_skipped", len(self.etags) - len(changed))
        out = []
        for rs, path, etag in changed:
            t = time.perf_counter()
            r = P.harvest_archive(
                self.tracer, self.spark, self.table, path, rs,
                self._modified(rnd),
            )
            out.append(("batch_s", time.perf_counter() - t))
            if r["committed"]:
                self.etags[rs] = etag
            self.input_bytes += self.sizes[path]
            self.summaries[(rnd, rs)] = r["summary"]
            self.units += r["rows"]
            s = r["summary"]
            self.count("sources.rows", r["rows"])
            self.count("sources.bytes", self.sizes[path])
            self.count("ingest.rows", r["outcomes"])
            self.count("ingest.writes", sum(s.values()))
            self.count("store.rows_appended",
                       s.get("create", 0) + s.get("update", 0))
            self.count("store.tombstones", s.get("delete", 0))
            self.count("store.compactions", int(r["compacted"]))
        t = time.perf_counter()
        n = P.refresh_index(
            self.tracer, self.spark, self.table, self.index_path,
            f"2024-01-01 00:{rnd - 1:02d}:00",
        )
        self.count("streaming.rows", n)
        out.append(("refresh_s", time.perf_counter() - t))
        out.append(("freshness_s", time.perf_counter() - start))
        return out

    def check(self) -> None:
        for rnd in range(1, self.rnd + 1):
            self.attempted += 1
            want = sorted(self.rounds[rnd][2])
            if self.changed[rnd] != want:
                self.fail(f"round {rnd}: scan found {self.changed[rnd]}, "
                          f"republished {want}")
        for (rnd, rs), got in self.summaries.items():
            self.attempted += 1
            want = self.rounds[rnd][2][rs]
            got = {k: got.get(k, 0) for k in want}
            if got != want:
                self.fail(f"round {rnd} {rs}: counts {got} != {want}")
        self.attempted += 1
        want = gen.live_keys(self.ctx.seed, self.rounds[self.rnd][1])
        hist = self.spark.table(self.table)
        key = F.coalesce(
            F.col("data")["dwc:occurrenceID"], F.col("data")["dcterms:identifier"]
        )
        got = {
            (r[0], r[1])
            for r in P.st.latest_view(hist).select("parent", key).collect()
        }
        if got != want:
            self.fail(
                f"live set: {len(got - want)} unexpected, "
                f"{len(want - got)} missing"
            )
        wh = self.spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        self.store_bytes = _du(os.path.join(wh, self.table)) + _du(
            self.index_path
        )
        files = self.spark.table(self.table).inputFiles()
        self.count("store.files_per_bucket_max", -(-len(files) // P.NUM_BUCKETS))

    def metrics(self, seconds: float) -> dict:
        batch, n = self.p50("batch_s", 1000)
        fresh, nf = self.p50("freshness_s")
        return {
            "throughput_per_s": (self.units / seconds, "1/s"),
            "op_p50_ms": (batch, "ms", n),
            "freshness_p50_s": (fresh, "s", nf),
            "store_bytes_per_input_byte": (
                self.store_bytes / self.input_bytes, "ratio"),
        }


def _oracle_hits(con, glob: str, rq: dict) -> int:
    """Hits of a search request by DuckDB over the index parquet, using
    the engine's SQL emitter ``query.shim.shim_to_sql``. The emitter
    has no polygon form, so polygon predicates are tested point by
    point with the same strict ray-casting rule."""
    from idb_backend_spark.query.shim import shim_to_sql

    rq = dict(rq)
    poly = rq.pop("geopoint") if "points" in rq.get("geopoint", {}) else None
    sql = shim_to_sql(rq, assume_lowercased=True)
    if poly is None:
        return con.execute(
            f"SELECT count(*) FROM read_parquet('{glob}') WHERE {sql}"
        ).fetchone()[0]
    pts = con.execute(
        "SELECT geopoint.lat, geopoint.lon FROM "
        f"read_parquet('{glob}') WHERE {sql} AND geopoint IS NOT NULL"
    ).fetchall()
    return sum(_inside(a, b, poly["points"]) for a, b in pts)


def _md5(path: str) -> str:
    from idb_backend_spark.sources.objectstore import md5_hex

    with open(path, "rb") as f:
        return md5_hex(f.read())


def write_records(w: Workload) -> None:
    """Generate the workload's store: every version of its records."""
    w.n = gen.SIZES[w.name]["records"]
    w.live = gen.write_records_jsonl(
        os.path.join(w.ctx.tmp, "records.jsonl"), w.ctx.seed, w.n
    )


def seed_store(w: Workload) -> None:
    """Load the generated versions into the store's history table."""
    P.seed_store(w.spark, os.path.join(w.ctx.tmp, "records.jsonl"),
                 "history", gen.SIZES["store"]["media_every"])


# --------------------------------------------------------------------------


class Search(Workload):
    """A seeded request stream over the index built in set-up."""

    name = "search"
    unit = "requests"
    fields = ["uuid", "scientificname", "genus", "country", "stateprovince",
              "locality", "year"]

    def prepare(self) -> None:
        write_records(self)
        self.seq = gen.request_sequence(self.ctx.seed, self.n)

    def warm(self) -> None:
        """Seed the store, build the index the requests read, then send
        one request of each kind."""
        from idb_backend_spark.export.jobs import DownloadJobManager

        seed_store(self)
        self.index_dir = os.path.join(self.ctx.tmp, "index")
        P.write_index(
            self.tracer, *P.search_frames(self.spark.table("history")),
            self.index_dir,
        )
        self.records = self.spark.read.parquet(
            os.path.join(self.index_dir, "records")
        )
        self.media = self.spark.read.parquet(
            os.path.join(self.index_dir, "media")
        )
        self.totals: dict[int, int] = {}
        self.lookups: list[tuple[str, str, int]] = []
        self.downloads: list[tuple[int, str]] = []
        self.hit_log: list[int] = []
        self.compile_log: list[float] = []
        self.pos = 0
        # warm-up: one request of each kind, with a throwaway job
        # registry so the measured phase starts without reusable exports
        self.jobs = DownloadJobManager()
        kinds = {}
        for req in self.seq:
            kinds.setdefault((req["op"], req.get("kind")), req)
        for req in kinds.values():
            self._do(req)
        self.jobs = DownloadJobManager()

    def reset(self) -> None:
        super().reset()
        self.hit_log, self.compile_log = [], []
        self.start = self.pos

    def _search(self, rq: dict):
        from idb_backend_spark.query.shim import compile_shim

        return self.records.filter(compile_shim(rq, assume_lowercased=True))

    def _do(self, req: dict) -> list[tuple[str, float]]:
        from idb_backend_spark.query import views

        t = time.perf_counter()
        op = req["op"]
        if op == "search":
            with self.tracer.span("query.search") as sp:
                df = self._search(req["rq"])
                self.compile_log.append(time.perf_counter() - t)
                total = df.count()
                df.select(*self.fields).limit(10).collect()
                sp.plan(df)
            self.totals[req["query"]] = total
            self.hit_log.append(total)
            key = "search_s"
        elif op == "lookup":
            with self.tracer.span("query.lookup"):
                if req["media"]:
                    mu = req["uuid"][:24] + "1" + req["uuid"][25:]
                    got = self.media.filter(F.col("uuid") == mu).select(
                        "uuid",
                        views.media_api_record(
                            F.col("accessuri"), F.col("accessuri"),
                            F.lit("images"), F.lit(None), F.col("modified"),
                            F.col("parent"), F.col("format"), F.lit(200),
                        ).alias("api"),
                    ).collect()
                    self.lookups.append(("media", mu, len(got)))
                else:
                    got = self.records.filter(
                        F.col("uuid") == req["uuid"]
                    ).select(
                        "uuid",
                        views.record_view_links(
                            "records", F.col("uuid"), F.col("parent")
                        ).alias("links"),
                    ).collect()
                    self.lookups.append(("records", req["uuid"], len(got)))
            key = "lookup_s"
        else:
            job = self.jobs.submit(
                {"rq": req["rq"], "type": "dwca"}, self._export
            )
            fresh = job.result["at"] == self.pos
            key = "download_s" if fresh else "reuse_s"
            self.count("export.fresh" if fresh else "export.reused")
            if fresh:
                self.downloads.append((req["query"], job.result["path"]))
        dt = time.perf_counter() - t
        self.pos += 1
        return [(key, dt)]

    def _export(self, params: dict) -> dict:
        from idb_backend_spark.export.writers import (
            citation_text,
            recordset_counts,
            write_dwca,
        )

        path = os.path.join(self.ctx.tmp, f"dl_{self.pos}.zip")
        with self.tracer.span("export.write_dwca"):
            df = self._search(params["rq"])
            counts = recordset_counts(df, "parent")
            write_dwca(
                path, (df.select(*self.fields), "uuid", self.fields[1:],
                       "records"),
                citations=citation_text(counts, params["rq"]),
            )
        self.count("export.zip_bytes", os.path.getsize(path))
        self.count("export.rows", sum(n for _, n in counts))
        return {"path": path, "at": self.pos}

    def step(self) -> list[tuple[str, float]]:
        req = self.seq[self.pos % len(self.seq)]
        self.units += 1
        return self._do(req)

    def check(self) -> None:
        import duckdb

        pool = {r["query"]: r["rq"] for r in self.seq if "rq" in r}
        con = duckdb.connect()
        glob = os.path.join(self.index_dir, "records", "*.parquet")
        want = {q: _oracle_hits(con, glob, pool[q])
                for q in set(self.totals) | {q for q, _ in self.downloads}}
        for q, total in sorted(self.totals.items()):
            self.attempted += 1
            if want[q] != total:
                self.fail(f"query {q} {pool[q]}: {total} hits != "
                          f"oracle {want[q]}")
        for kind, uuid, n in self.lookups:
            self.attempted += 1
            if n != 1:
                self.fail(f"{kind} lookup {uuid}: {n} rows")
        for q, path in self.downloads:
            self.attempted += 1
            with zipfile.ZipFile(path) as z:
                text = z.read("occurrence.csv").decode("utf-8")
            rows = sum(1 for _ in csv.reader(io.StringIO(text))) - 1
            if rows != want[q]:
                self.fail(f"download of query {q}: {rows} rows != "
                          f"oracle {want[q]}")
        con.close()

    def metrics(self, seconds: float) -> dict:
        s = self.samples.get("search_s", [])
        p90 = tail_percentile(s, 0.9)
        lk, nl = self.p50("lookup_s", 1000)
        dl, nd = self.p50("download_s")
        out = {
            "throughput_per_s": (self.units / seconds, "1/s"),
            "op_p50_ms": (median(s) * 1000, "ms", len(s)),
            "lookup_p50_ms": (lk, "ms", nl),
            "download_p50_s": (dl, "s", nd),
            "repeat_share": (
                gen.repeat_share(self.seq[self.start:self.pos]), "ratio"),
        }
        if p90 is not None:
            out["search_p90_ms"] = (p90 * 1000, "ms", len(s))
        return out


WORKLOADS = {w.name: w for w in (Harvest, Search)}
