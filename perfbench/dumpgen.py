"""Seeded synthetic Wikidata dump and an independent walk of it.

The generator writes a dump in the published ``latest-all.json`` shape:
a JSON array with one entity per line, each line but the last ending in
a comma. The entity shapes and their fan-outs are those of the package's
inline micro-fixture (``wikidata/fixture.py``): labels, descriptions,
aliases, ranked statements with qualifiers and references, sitelinks
with badges, and every datavalue type. The figures ``DumpSpec`` takes
from it are measured on the latest revision of each of its five ids;
the strings are drawn from a syllable vocabulary, so the file
compresses like text instead of like a cloned literal.

The dump also carries, in small fixed numbers (a published dump has one
line per id; these are the fewest that let every check bite), what an
import must survive:

* stale revisions: an older ``lastrevid`` version of an id, with other
  content;
* duplicate revisions: an extra line with the same id and ``lastrevid``
  as the latest one. Half repeat the line byte for byte, half differ in
  content, so the import's tiebreak on the raw line decides;
* corrupt lines: truncated entity JSON that must parse to a null id.

``walk`` derives, in plain Python and without the package, what a
correct import loads: for each default table the multiset of rows, the
latest line of each id, and the number of stale and corrupt lines.
Coordinates keep three decimals below 180 so a double prints the same
in Spark and in Python.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import os
import random
from collections import Counter
from dataclasses import asdict, dataclass

TABLES = ("wd_labels", "wd_claims", "wd_qualifiers", "wd_sitelinks", "wd_edges")

# Column names of each table, in the order the import writes them.
COLUMNS = {
    "wd_labels": ("id", "lang", "label"),
    "wd_claims": (
        "subject", "property", "stmt_idx", "rank", "snaktype", "value_type", "value",
    ),
    "wd_qualifiers": (
        "subject", "property", "stmt_idx", "qual_property", "qual_idx",
        "qual_snaktype", "qual_value",
    ),
    "wd_sitelinks": ("id", "site", "title", "n_badges"),
    "wd_edges": ("src", "property", "dst"),
}

LANGS = ("en", "de", "fr", "es", "it", "nl", "pl", "pt", "ru", "sv", "ja", "zh")
SITES = ("enwiki", "dewiki", "frwiki", "eswiki", "itwiki", "commonswiki")
_SYLLABLES = (
    "ka", "lo", "mi", "ren", "sa", "tor", "vel", "an", "bri", "cas", "dun",
    "el", "fen", "gar", "hol", "ist", "jor", "kel", "lin", "mar", "nor",
    "os", "pel", "qui", "ros", "sten", "tal", "ur", "vin", "wal", "yor", "zet",
)


@dataclass(frozen=True)
class DumpSpec:
    """What to generate. The fan-outs and shares are measured on the
    fixture's latest revisions (five ids, 16 statements); ``entities``
    and the hazard counts are the benchmark's choice."""

    seed: int
    entities: int = 3000
    langs_max: int = 3  # labels per entity, 1..langs_max (fixture: 1-3)
    description_share: float = 0.2  # entities with descriptions (fixture: 1 of 5)
    alias_share: float = 0.2  # entities with aliases (fixture: 1 of 5)
    props_max: int = 6  # claim properties per entity, 0..props_max (fixture: 0-6)
    stmts_max: int = 2  # statements per property, 1..stmts_max (fixture: 1-2)
    value_share: float = 0.875  # snaks with a datavalue (fixture: 14 of 16)
    qualifier_share: float = 0.0625  # statements with qualifiers (fixture: 1 of 16)
    reference_share: float = 0.1875  # statements with references (fixture: 3 of 16)
    sitelink_share: float = 0.4  # entities with sitelinks (fixture: 2 of 5)
    badge_share: float = 0.33  # sitelinks with a badge (fixture: 1 of 3)
    stale_ids: int = 8  # ids that also have an older revision
    duplicate_ids: int = 4  # ids with an extra line at the latest revision
    corrupt_lines: int = 4  # truncated lines
    codec: str = "gz"  # "gz" or "json"

    def key(self) -> str:
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


def _word(rnd: random.Random) -> str:
    return "".join(rnd.choice(_SYLLABLES) for _ in range(rnd.randint(1, 3)))


def _phrase(rnd: random.Random, lo: int = 1, hi: int = 3) -> str:
    return " ".join(_word(rnd) for _ in range(rnd.randint(lo, hi))).capitalize()


def _datavalue(rnd: random.Random, n_items: int) -> dict:
    kind = rnd.choices(
        ("wikibase-entityid", "string", "time", "quantity", "globecoordinate",
         "monolingualtext"),
        weights=(7, 1, 3, 1, 1, 1),  # the fixture's 14 datavalues
    )[0]
    if kind == "wikibase-entityid":
        num = rnd.randint(1, n_items)
        return {"type": kind, "value": {"entity-type": "item", "numeric-id": num,
                                        "id": f"Q{num}"}}
    if kind == "string":
        return {"type": kind, "value": _phrase(rnd, 1, 4)}
    if kind == "time":
        y, m, d = rnd.randint(1000, 2024), rnd.randint(1, 12), rnd.randint(1, 28)
        return {"type": kind, "value": {"time": f"+{y:04d}-{m:02d}-{d:02d}T00:00:00Z",
                                        "precision": rnd.choice((9, 10, 11))}}
    if kind == "quantity":
        return {"type": kind, "value": {"amount": f"+{rnd.randint(1, 10**7)}",
                                        "unit": "1"}}
    if kind == "globecoordinate":
        # three decimals, magnitude in [1, 180): plain notation on both sides
        lat = rnd.choice((1, -1)) * rnd.randint(1000, 89999) / 1000
        lon = rnd.choice((1, -1)) * rnd.randint(1000, 179999) / 1000
        return {"type": kind, "value": {"latitude": lat, "longitude": lon,
                                        "precision": 0.001,
                                        "globe": "http://www.wikidata.org/entity/Q2"}}
    return {"type": kind, "value": {"text": _phrase(rnd), "language": rnd.choice(LANGS)}}


def _snak(rnd: random.Random, prop: str, n_items: int, value_share: float) -> dict:
    if rnd.random() < value_share:
        return {"snaktype": "value", "property": prop,
                "datavalue": _datavalue(rnd, n_items)}
    return {"snaktype": rnd.choice(("somevalue", "novalue")), "property": prop}


def _prop(rnd: random.Random) -> str:
    return f"P{rnd.randint(1, 400)}"


def _entity(rnd: random.Random, spec: DumpSpec, eid: str, rev: int) -> dict:
    n_items, vs = spec.entities, spec.value_share
    langs = rnd.sample(LANGS, rnd.randint(1, spec.langs_max))
    e: dict = {
        "id": eid,
        "type": "property" if eid.startswith("P") else "item",
        "lastrevid": rev,
        "labels": {lg: {"language": lg, "value": _phrase(rnd)} for lg in langs},
    }
    if rnd.random() < spec.description_share:
        e["descriptions"] = {lg: {"language": lg, "value": _phrase(rnd, 2, 5)}
                             for lg in langs[:2]}
    if rnd.random() < spec.alias_share:
        lg = langs[0]
        e["aliases"] = {lg: [{"language": lg, "value": _phrase(rnd)}
                             for _ in range(rnd.randint(1, 2))]}
    claims: dict = {}
    for prop in sorted({_prop(rnd) for _ in range(rnd.randint(0, spec.props_max))}):
        stmts = []
        for _ in range(rnd.randint(1, spec.stmts_max)):
            st: dict = {
                "mainsnak": _snak(rnd, prop, n_items, vs),
                "type": "statement",
                "rank": rnd.choices(("normal", "preferred", "deprecated"),
                                    weights=(14, 1, 1))[0],
            }
            if rnd.random() < spec.qualifier_share:
                st["qualifiers"] = {
                    qp: [_snak(rnd, qp, n_items, vs)]
                    for qp in sorted({_prop(rnd) for _ in range(rnd.randint(1, 2))})
                }
            if rnd.random() < spec.reference_share:
                st["references"] = [
                    {"hash": hashlib.md5(f"{eid}{rev}{prop}{len(stmts)}".encode()).hexdigest(),
                     "snaks": {rp: [_snak(rnd, rp, n_items, 1.0)]
                               for rp in sorted(rnd.sample(("P143", "P248", "P813", "P854"),
                                                           rnd.randint(1, 2)))}}
                ]
            stmts.append(st)
        claims[prop] = stmts
    e["claims"] = claims
    if e["type"] == "item" and rnd.random() < spec.sitelink_share:
        e["sitelinks"] = {
            s: {"site": s, "title": _phrase(rnd, 1, 4),
                "badges": [f"Q{rnd.randint(1, 99)}"] if rnd.random() < spec.badge_share else []}
            for s in rnd.sample(SITES, rnd.randint(1, 2))
        }
    return e


def _line(e: dict) -> str:
    return json.dumps(e, separators=(",", ":"), ensure_ascii=True)


def generate_lines(spec: DumpSpec) -> list[str]:
    """Entity lines (without the array's commas), in dump order."""
    rnd = random.Random(spec.seed)
    ids = [f"P{i}" if i % 50 == 0 else f"Q{i}" for i in range(1, spec.entities + 1)]
    stale = set(rnd.sample(ids, spec.stale_ids))
    dup = rnd.sample(ids, spec.duplicate_ids)
    same = set(dup[: spec.duplicate_ids // 2])  # byte-identical duplicates
    lines: list[str] = []
    for eid in ids:
        rev = rnd.randint(10_000, 9_000_000)
        main = _line(_entity(rnd, spec, eid, rev))
        lines.append(main)
        if eid in stale:
            lines.append(_line(_entity(rnd, spec, eid, rnd.randint(1, rev - 1))))
        if eid in dup:
            lines.append(main if eid in same else _line(_entity(rnd, spec, eid, rev)))
    for src in rnd.sample(lines, spec.corrupt_lines):
        lines.append(src[: rnd.randint(5, len(src) // 2)])
    rnd.shuffle(lines)
    return lines


def dump_bytes(spec: DumpSpec) -> bytes:
    """The dump file's bytes: byte-identical for a given spec."""
    lines = generate_lines(spec)
    body = ("[\n" + ",\n".join(lines) + "\n]\n").encode("ascii")
    if spec.codec == "json":
        return body
    buf = io.BytesIO()
    # mtime=0 and no file name: the gzip header carries neither
    with gzip.GzipFile(fileobj=buf, mode="wb", compresslevel=6, mtime=0, filename="") as gz:
        gz.write(body)
    return buf.getvalue()


def write_dump(spec: DumpSpec, cache_dir: str) -> str:
    """Write the dump under ``cache_dir`` once per spec; return its path."""
    ext = ".json.gz" if spec.codec == "gz" else ".json"
    path = os.path.join(cache_dir, f"dump-{spec.key()}{ext}")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as fh:
            fh.write(dump_bytes(spec))
        os.replace(tmp, path)
    return path


# ---------------------------------------------------------------- the walk


def _dv_str(dv: dict | None) -> str | None:
    if not dv:
        return None
    t, v = dv.get("type"), dv.get("value")
    if t == "wikibase-entityid":
        return v["id"]
    if t == "string":
        return v
    if t == "time":
        return v["time"]
    if t == "quantity":
        return v["amount"]
    if t == "globecoordinate":
        return f"{float(v['latitude'])!r},{float(v['longitude'])!r}"
    if t == "monolingualtext":
        return v["text"]
    return None


def _dv_type(dv: dict | None) -> str | None:
    return dv.get("type") if dv else None


def table_rows(e: dict) -> dict[str, list[tuple]]:
    """Rows one latest entity contributes to each default table."""
    out: dict[str, list[tuple]] = {t: [] for t in TABLES}
    eid = e["id"]
    for lang, lab in (e.get("labels") or {}).items():
        out["wd_labels"].append((eid, lang, lab.get("value")))
    for prop, stmts in (e.get("claims") or {}).items():
        for idx, st in enumerate(stmts):
            ms = st.get("mainsnak") or {}
            dv = ms.get("datavalue")
            out["wd_claims"].append(
                (eid, prop, idx, st.get("rank"), ms.get("snaktype"), _dv_type(dv), _dv_str(dv))
            )
            if _dv_type(dv) == "wikibase-entityid":
                out["wd_edges"].append((eid, prop, dv["value"]["id"]))
            for qp, snaks in (st.get("qualifiers") or {}).items():
                for qi, qs in enumerate(snaks):
                    out["wd_qualifiers"].append(
                        (eid, prop, idx, qp, qi, qs.get("snaktype"), _dv_str(qs.get("datavalue")))
                    )
    for site, sl in (e.get("sitelinks") or {}).items():
        out["wd_sitelinks"].append((eid, site, sl.get("title"), len(sl.get("badges") or [])))
    return out


@dataclass
class Walk:
    rows: dict[str, Counter]  # table -> multiset of row tuples
    latest: dict[str, str]  # id -> the latest line
    entity_lines: int  # parseable entity lines
    stale_lines: int  # parseable lines that are not the latest of their id
    corrupt_lines: int  # lines that do not parse to an entity

    @property
    def entities(self) -> int:
        return len(self.latest)


def walk(lines: list[str]) -> Walk:
    """Expected import result, from the entity lines alone."""
    latest: dict[str, tuple[int, str]] = {}
    parsed = corrupt = 0
    for line in lines:
        try:
            e = json.loads(line)
        except ValueError:
            corrupt += 1
            continue
        parsed += 1
        cand = (e["lastrevid"], line)
        if e["id"] not in latest or cand > latest[e["id"]]:
            latest[e["id"]] = cand
    rows = {t: Counter() for t in TABLES}
    for _, line in latest.values():
        for t, rs in table_rows(json.loads(line)).items():
            rows[t].update(rs)
    return Walk(
        rows=rows,
        latest={k: v[1] for k, v in latest.items()},
        entity_lines=parsed,
        stale_lines=parsed - len(latest),
        corrupt_lines=corrupt,
    )
