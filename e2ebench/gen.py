"""Seeded input generator for the end-to-end benchmark.

Everything here uses the standard library only (``random``, ``csv``,
``zipfile``), never the engine's writers, so an engine bug cannot shape
the inputs it is measured on. The same seed gives byte-identical files:
zip members carry a fixed timestamp and records are drawn from
``random.Random`` instances seeded by strings, which Python hashes
deterministically.

Sizes and property shares live in :data:`SIZES`; ``BENCHMARK.json``
records the same figures.
"""

from __future__ import annotations

import csv
import io
import json
import math
import os
import random
import zipfile

#: fixed zip member timestamp: byte-identical archives across runs
ZIP_TIME = (2020, 1, 1, 0, 0, 0)

SIZES = {
    # the versioned store's shape, from FIXTURES.md §3-4: ~10-50
    # recordsets with Zipf-distributed record counts, 1-4 versions per
    # uuid, ~2 % of uuids tombstoned
    "store": {
        "recordsets": 20,
        "zipf_s": 1.0,
        "versions": (1, 4),
        "share_tombstoned": 0.02,
        # one media entity per this many records
        "media_every": 3,
    },
    "harvest": {
        # recordset record counts: Zipf over 10 recordsets (FIXTURES §3)
        "recordsets": 10,
        "records": 2_500,
        "zipf_s": 1.0,
        "rounds": 3,
        # recordsets republished per round: round r republishes the
        # recordset of size rank r (0 = largest), so a round's work is
        # the same for every seed. The harvester skips every archive
        # whose md5 equals its last harvest's (the reference's
        # recordsets.file_harvest_etag), so only these are ingested
        "changed_per_round": 1,
        # per republished archive, share of its live records
        "share_updated": 0.04,
        "share_new": 0.02,
        "share_deleted": 0.01,
        # one multimedia extension row per this many records
        "media_every": 3,
    },
    # the request mix is an assumption (the reference has no traffic
    # log): searches over 7 predicate kinds x 7 instances, Zipf over the
    # instances; the run reports the repeat share it measured
    "search": {
        "records": 4_000,
        "kinds": 7,
        "per_kind": 7,
        "zipf_s": 1.1,
        "downloads": 2,
        "sequence": 4000,
        "lookup_every": 4,
        "download_every": 8,
    },
}

#: the store's tombstone etag (FIXTURES.md §4)
TOMBSTONE_ETAG = "9a4e35834eb80d9af64bcd07ed996b9ec0e60d92"

DWC = "http://rs.tdwg.org/dwc/terms/"
DC = "http://purl.org/dc/terms/"
AC = "http://rs.tdwg.org/ac/terms/"

#: occurrence core columns, in file order (index 0 is the id column)
CORE_TERMS = [
    "dwc:occurrenceID", "dwc:catalogNumber", "dwc:institutionCode",
    "dwc:collectionCode", "dwc:kingdom", "dwc:phylum", "dwc:family",
    "dwc:genus", "dwc:specificEpithet", "dwc:scientificName",
    "dwc:taxonRank", "dwc:basisOfRecord", "dwc:vernacularName",
    "dwc:country", "dwc:stateProvince", "dwc:locality",
    "dwc:decimalLatitude", "dwc:decimalLongitude", "dwc:geodeticDatum",
    "dwc:eventDate", "dwc:year", "dwc:month",
    "dwc:minimumElevationInMeters", "dwc:recordedBy", "dwc:typeStatus",
]
MEDIA_TERMS = ["dcterms:identifier", "ac:accessURI", "dc:format", "dc:type"]

_URI = {"dwc": DWC, "dcterms": DC, "dc": "http://purl.org/dc/elements/1.1/",
        "ac": AC}

GENERA = [
    ("plantae", "tracheophyta", "sapindaceae", "acer",
     ["rubrum", "saccharum", "negundo"], "maple"),
    ("plantae", "tracheophyta", "fagaceae", "quercus",
     ["alba", "rubra", "virginiana"], "oak"),
    ("plantae", "tracheophyta", "pinaceae", "pinus",
     ["taeda", "elliottii", "palustris"], "pine"),
    ("animalia", "chordata", "ranidae", "lithobates",
     ["catesbeianus", "sphenocephalus"], "frog"),
    ("animalia", "chordata", "colubridae", "nerodia",
     ["fasciata", "erythrogaster"], "water snake"),
    ("animalia", "arthropoda", "apidae", "bombus",
     ["impatiens", "griseocollis"], "bumble bee"),
    ("animalia", "mollusca", "unionidae", "elliptio",
     ["complanata", "icterina"], None),
    ("fungi", "basidiomycota", "amanitaceae", "amanita",
     ["muscaria", "virosa"], None),
]
#: (country, state, lat range, lon range)
PLACES = [
    ("united states", "florida", (25.0, 30.9), (-87.5, -80.1)),
    ("united states", "georgia", (30.4, 34.9), (-85.6, -81.0)),
    ("united states", "texas", (26.0, 36.4), (-106.5, -93.6)),
    ("canada", "ontario", (42.0, 56.8), (-95.1, -74.4)),
    ("mexico", "oaxaca", (15.7, 18.6), (-98.5, -93.9)),
    ("brazil", "amazonas", (-9.8, 2.2), (-73.8, -56.1)),
    ("australia", "queensland", (-29.0, -10.7), (138.0, 153.5)),
    ("south africa", "western cape", (-34.8, -30.4), (17.8, 24.2)),
]
BOR = ["PreservedSpecimen", "PreservedSpecimen", "fossil",
       "machine observation", "Exsiccati", "HumanObservation"]
RANKS = ["species", "species", "Sp.", "genus", "subsp."]
DATUMS = ["WGS84", "WGS84", "NAD27", "WGS 72", None]
TYPES = [None] * 9 + ["holotype"]
COLLECTORS = ["a. gray", "j. bartram", "m. walter", "c. darwin",
              "e. lucy braun", "f. harper"]


def _rng(*parts) -> random.Random:
    return random.Random(":".join(str(p) for p in parts))


# --------------------------------------------------------------------------
# harvest: DwC-A archives and re-harvest rounds
# --------------------------------------------------------------------------


def occurrence(seed: int, rs: str, i: int, version: int) -> dict:
    """One core row; ``version`` bumps change its content (and etag)."""
    r = _rng(seed, rs, i)
    kingdom, phylum, family, genus, epithets, vern = r.choice(GENERA)
    epithet = r.choice(epithets)
    country, state, (la0, la1), (lo0, lo1) = r.choice(PLACES)
    lat = round(r.uniform(la0, la1), r.choice((1, 4, 5)))
    lon = round(r.uniform(lo0, lo1), r.choice((1, 4, 5)))
    year = r.randint(1850, 2023)
    month = r.randint(1, 12)
    day = r.randint(1, 28)
    date = r.choice((
        f"{year}-{month:02d}-{day:02d}",
        f"{year}-{month:02d}-{day:02d}",
        f"{day:02d}/{month:02d}/{year}",
        "",
    ))
    if version:
        # an update edits a field the index reads (and so the etag)
        v = _rng(seed, rs, i, "v", version)
        lat = round(lat + v.uniform(-0.5, 0.5), 4)
        date = f"{year}-{month:02d}-{v.randint(1, 28):02d}"
    occ = f"urn:catalog:{rs}:{i}"
    return {
        "id": occ,
        "dwc:occurrenceID": occ,
        "dwc:catalogNumber": f"{rs.upper()}-{i}",
        "dwc:institutionCode": rs[:4],
        "dwc:collectionCode": r.choice(("herp", "bot", "ent", "")),
        "dwc:kingdom": kingdom,
        "dwc:phylum": phylum,
        "dwc:family": family,
        "dwc:genus": genus,
        "dwc:specificEpithet": epithet,
        "dwc:scientificName": f"{genus.title()} {epithet}",
        "dwc:taxonRank": r.choice(RANKS),
        "dwc:basisOfRecord": r.choice(BOR),
        "dwc:vernacularName": vern or "",
        "dwc:country": country,
        "dwc:stateProvince": state,
        "dwc:locality": f"{r.randint(1, 40)} km n of {state} station",
        "dwc:decimalLatitude": str(lat),
        "dwc:decimalLongitude": str(lon),
        "dwc:geodeticDatum": r.choice(DATUMS) or "",
        "dwc:eventDate": date,
        "dwc:year": str(year),
        "dwc:month": str(month),
        "dwc:minimumElevationInMeters": r.choice(
            (f"{r.randint(0, 3000)}", f"{r.randint(0, 3000)} m", "")
        ),
        "dwc:recordedBy": r.choice(COLLECTORS),
        "dwc:typeStatus": r.choice(TYPES) or "",
    }


def media(rs: str, i: int) -> dict:
    ident = f"http://images.example.org/{rs}/{i}.jpg"
    return {
        "coreid": f"urn:catalog:{rs}:{i}",
        "dcterms:identifier": ident,
        "ac:accessURI": ident,
        "dc:format": "image/jpeg",
        "dc:type": "StillImage",
    }


def _csv_bytes(header: list[str], rows: list[list[str]]) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n", quoting=csv.QUOTE_MINIMAL)
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode("utf-8")


def _meta_xml() -> bytes:
    def fields(terms):
        return "".join(
            f'<field index="{k + 1}" term="{_URI[t.split(":")[0]]}'
            f'{t.split(":")[1]}"/>'
            for k, t in enumerate(terms)
        )

    attrs = (
        'encoding="UTF-8" fieldsTerminatedBy="," linesTerminatedBy="\\n" '
        'fieldsEnclosedBy="&quot;" ignoreHeaderLines="1"'
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<archive xmlns="http://rs.tdwg.org/dwc/text/" metadata="eml.xml">'
        f'<core {attrs} rowType="{DWC}Occurrence">'
        "<files><location>occurrence.csv</location></files>"
        f'<id index="0"/>{fields(CORE_TERMS)}</core>'
        f'<extension {attrs} rowType="{AC}Multimedia">'
        "<files><location>multimedia.csv</location></files>"
        f'<coreid index="0"/>{fields(MEDIA_TERMS)}</extension>'
        "</archive>"
    ).encode("utf-8")


def _eml(rs: str) -> bytes:
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<eml:eml xmlns:eml="eml://ecoinformatics.org/eml-2.1.1">'
        f"<dataset><title>{rs} collection</title>"
        "<intellectualRights><para>CC0</para></intellectualRights>"
        "</dataset></eml:eml>"
    ).encode("utf-8")


def write_archive(path: str, seed: int, rs: str, live: dict) -> int:
    """Write one recordset's DwC-A (core + multimedia + EML) holding the
    ``live`` records ({index: version}); returns the archive's bytes."""
    every = SIZES["harvest"]["media_every"]
    core, ext = [], []
    for i in sorted(live):
        rec = occurrence(seed, rs, i, live[i])
        core.append([rec["id"]] + [rec[t] for t in CORE_TERMS])
        if i % every == 0:
            m = media(rs, i)
            ext.append([m["coreid"]] + [m[t] for t in MEDIA_TERMS])
    members = [
        ("meta.xml", _meta_xml()),
        ("eml.xml", _eml(rs)),
        ("occurrence.csv", _csv_bytes(["id"] + CORE_TERMS, core)),
        ("multimedia.csv", _csv_bytes(["coreid"] + MEDIA_TERMS, ext)),
    ]
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in members:
            info = zipfile.ZipInfo(name, date_time=ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, data)
    return os.path.getsize(path)


def zipf_sizes(total: int, k: int, s: float) -> list[int]:
    """``k`` counts summing to ``total``, the j-th proportional to
    1 / j**s (many small, few large)."""
    w = [1.0 / math.pow(j + 1, s) for j in range(k)]
    sizes = [max(1, int(total * x / sum(w))) for x in w]
    sizes[0] += total - sum(sizes)
    return sizes


def recordset_sizes(seed: int) -> dict[str, int]:
    """Harvest recordsets and their initial record counts: Zipf sizes,
    assigned to recordset names in a seeded order."""
    h = SIZES["harvest"]
    sizes = zipf_sizes(h["records"], h["recordsets"], h["zipf_s"])
    _rng(seed, "sizes").shuffle(sizes)
    return {f"rs{k:02d}": n for k, n in enumerate(sizes)}


def harvest_rounds(seed: int, rounds: int | None = None):
    """Yield ``(round, {rs: live}, truth)`` for round 0 (the initial
    load) and every re-harvest round. ``live`` = {record index: version}
    for every recordset; a round republishes ``changed_per_round``
    recordsets, chosen by size rank, and the others keep their archive
    byte-for-byte. ``truth[rs]`` = {create, update, delete} of each
    republished recordset (records and media rows together, the store's
    counters)."""
    h = SIZES["harvest"]
    rounds = h["rounds"] if rounds is None else rounds
    every = h["media_every"]
    sizes = recordset_sizes(seed)
    state = {rs: {i: 0 for i in range(n)} for rs, n in sizes.items()}
    nxt = dict(sizes)
    truth = {
        rs: {"create": len(live) + sum(1 for i in live if i % every == 0),
             "update": 0, "delete": 0}
        for rs, live in state.items()
    }
    yield 0, {rs: dict(v) for rs, v in state.items()}, truth
    ranked = sorted(sizes, key=lambda rs: (-sizes[rs], rs))
    for rnd in range(1, rounds + 1):
        truth = {}
        k = h["changed_per_round"]
        for rs in sorted(ranked[(rnd * k + j) % len(ranked)]
                         for j in range(k)):
            live = state[rs]
            r = _rng(seed, "round", rnd, rs)
            keys = sorted(live)
            n = len(keys)
            k_upd = max(1, round(n * h["share_updated"]))
            k_del = max(1, round(n * h["share_deleted"]))
            k_new = max(1, round(n * h["share_new"]))
            picked = r.sample(keys, k_upd + k_del)
            upd, dele = picked[:k_upd], picked[k_upd:]
            for i in upd:
                live[i] += 1
            for i in dele:
                del live[i]
            new = list(range(nxt[rs], nxt[rs] + k_new))
            nxt[rs] += k_new
            for i in new:
                live[i] = 0
            truth[rs] = {
                "create": k_new + sum(1 for i in new if i % every == 0),
                "update": k_upd,
                "delete": k_del + sum(1 for i in dele if i % every == 0),
            }
        yield rnd, {rs: dict(v) for rs, v in state.items()}, truth


def live_keys(seed: int, live_by_rs: dict) -> set[tuple[str, str]]:
    """The (recordset, identifier) set the store must hold live."""
    every = SIZES["harvest"]["media_every"]
    out = set()
    for rs, live in live_by_rs.items():
        for i in live:
            out.add((rs, f"urn:catalog:{rs}:{i}"))
            if i % every == 0:
                out.add((rs, media(rs, i)["dcterms:identifier"]))
    return out


# --------------------------------------------------------------------------
# search: a flat version file for seeding the store directly
# --------------------------------------------------------------------------


def record_uuid(seed: int, i: int) -> str:
    return f"{seed:08x}-0000-4000-8000-{i:012x}"


def store_recordsets(seed: int, n: int) -> list[str]:
    """Record index -> recordset, Zipf record counts (FIXTURES §3)."""
    st = SIZES["store"]
    sizes = zipf_sizes(n, st["recordsets"], st["zipf_s"])
    _rng(seed, "store-sizes").shuffle(sizes)
    return [f"rs{k:02d}" for k, m in enumerate(sizes) for _ in range(m)]


def versions(seed: int, i: int) -> int:
    """How many versions record ``i`` has (uniform over the range)."""
    return _rng(seed, "versions", i).randint(*SIZES["store"]["versions"])


def tombstoned(seed: int, i: int) -> bool:
    return (_rng(seed, "tomb", i).random()
            < SIZES["store"]["share_tombstoned"])


def write_records_jsonl(path: str, seed: int, n: int) -> int:
    """Every stored version of ``n`` occurrence records, one JSON
    object per line (uuid, parent, etag, version and the raw DwC map;
    a tombstone has the tombstone etag and no data). Returns the number
    of live records."""
    parents = store_recordsets(seed, n)
    live = 0
    with open(path, "w", encoding="utf-8") as f:
        for i in range(n):
            rs = parents[i]
            rows = []
            for v in range(versions(seed, i)):
                rec = occurrence(seed, rs, i, v)
                rows.append({"etag": f"{i:032x}{v:08x}", "data": {
                    k: x for k, x in rec.items() if x != ""}})
            if tombstoned(seed, i):
                rows.append({"etag": TOMBSTONE_ETAG, "data": None})
            else:
                live += 1
            for v, row in enumerate(rows):
                f.write(json.dumps({
                    "uuid": record_uuid(seed, i), "parent": rs,
                    "version": v, **row,
                }, separators=(",", ":"), sort_keys=True))
                f.write("\n")
    return live


# --------------------------------------------------------------------------
# search: the request sequence
# --------------------------------------------------------------------------


def _query_pool(seed: int, k: int) -> list[dict]:
    r = _rng(seed, "queries")
    pool = []
    kinds = ["term", "terms", "range", "exists", "bbox", "distance",
             "polygon"]
    for q in range(k):
        kind = kinds[q % len(kinds)]
        genus = r.choice(GENERA)[3]
        _, state, (la0, la1), (lo0, lo1) = r.choice(PLACES)
        if kind == "term":
            shim = {"genus": genus}
        elif kind == "terms":
            shim = {"stateprovince": [state, r.choice(PLACES)[1]],
                    "genus": genus}
        elif kind == "range":
            y = r.randint(1860, 2000)
            shim = {"year": {"type": "range", "gte": y, "lte": y + 20},
                    "genus": genus}
        elif kind == "exists":
            shim = {"typestatus": {"type": "exists"},
                    "stateprovince": state}
        elif kind == "bbox":
            shim = {"geopoint": {
                "type": "geo_bounding_box",
                "top_left": {"lat": la1, "lon": lo0},
                "bottom_right": {"lat": (la0 + la1) / 2,
                                 "lon": (lo0 + lo1) / 2}}}
        elif kind == "distance":
            shim = {"geopoint": {
                "type": "geo_distance", "distance": "150km",
                "lat": round((la0 + la1) / 2, 3),
                "lon": round((lo0 + lo1) / 2, 3)},
                "genus": genus}
        else:
            cy, cx = (la0 + la1) / 2, (lo0 + lo1) / 2
            shim = {"geopoint": {"type": "geo_polygon", "points": [
                [lo0, la0], [cx, la1], [lo1, cy], [lo0, la0]]}}
        pool.append({"kind": kind, "rq": shim})
    return pool


def request_sequence(seed: int, n_records: int) -> list[dict]:
    """The closed-loop request stream. Its shape is fixed so every run
    sees the same mix: searches cycle through the seven predicate kinds,
    each picking one of its instances Zipf-distributed (so queries
    repeat); every ``lookup_every``-th request is a uuid lookup,
    alternating record and media; every ``download_every``-th is a
    download cycling over ``downloads`` queries of the pool (the first
    of each is a fresh export, the rest reuse it)."""
    s = SIZES["search"]
    kinds = s["kinds"]
    pool = _query_pool(seed, kinds * s["per_kind"])
    r = _rng(seed, "sequence")
    weights = [1.0 / math.pow(k + 1, s["zipf_s"]) for k in range(s["per_kind"])]
    every = SIZES["store"]["media_every"]
    out = []
    n_search = n_lookup = n_download = 0
    for k in range(s["sequence"]):
        if k % s["download_every"] == s["download_every"] - 1:
            q = (n_download % s["downloads"]) * (kinds + 1)
            out.append({"op": "download", "query": q, **pool[q]})
            n_download += 1
        elif k % s["lookup_every"] == s["lookup_every"] - 1:
            media = n_lookup % 2 == 0
            i = r.randrange(n_records // every) * every
            while not media and (i % every == 0 or tombstoned(seed, i)):
                i = r.randrange(n_records // every) * every
                i += r.randint(1, every - 1)
            out.append({"op": "lookup", "uuid": record_uuid(seed, i),
                        "media": media})
            n_lookup += 1
        else:
            inst = r.choices(range(s["per_kind"]), weights=weights)[0]
            q = inst * kinds + n_search % kinds
            out.append({"op": "search", "query": q, **pool[q]})
            n_search += 1
    return out


def repeat_share(seq: list[dict]) -> float:
    seen, rep, n = set(), 0, 0
    for req in seq:
        if req["op"] == "lookup":
            continue
        n += 1
        rep += req["query"] in seen
        seen.add(req["query"])
    return rep / max(n, 1)

