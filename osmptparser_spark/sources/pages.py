"""Common-Crawl-style pages source: synthesis + vectorized extraction (W1).

Per BASELINE.json ``input_hint`` the engine's source of truth is a table
``pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
lang STRING)``; geo entities are embedded in ``text`` with a
deterministic one-entity-per-line microformat (FIXTURES.md §2):

    GEOPAGE|<page_no>|<kind>|<n_entities>
    OSMNODE|id|lat|lon|tags_json
    OSMWAY|id|ref1,ref2,...|tags_json|info_json
    OSMREL|id|way_ref1,...|stop_ref1,...|tags_json|info_json

``tags_json``/``info_json`` are canonical JSON (sorted keys, no spaces);
floats print with ``repr`` round-trip precision so f64 survives exactly.
``html`` is the UTF-8 bytes of a fixed wrapper around ``text``;
extraction recovers ``text`` from ``html`` byte-identically (the
per-url invariant the north rule demands).

Extraction is pure Catalyst expressions (substring, split, from_json)
inside whole-stage codegen — no Python on the hot path. At 100 TB scale
this stage is embarrassingly parallel (no shuffle); entity outputs go
straight into the semi-join/hydration pipeline.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone
from typing import Dict, Iterable, List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGE_PREFIX = "<html><body><pre>"
PAGE_SUFFIX = "</pre></body></html>"
PAGES_DDL = "url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING"
_EPOCH = datetime(2020, 1, 1, tzinfo=timezone.utc)

NODES_DDL = "id BIGINT, lat DOUBLE, lon DOUBLE, tags MAP<STRING,STRING>"
WAYS_DDL = (
    "id BIGINT, tags MAP<STRING,STRING>, info MAP<STRING,STRING>, refs ARRAY<BIGINT>"
)
RELATIONS_DDL = (
    "id BIGINT, tags MAP<STRING,STRING>, info MAP<STRING,STRING>, "
    "way_refs ARRAY<BIGINT>, stop_refs ARRAY<BIGINT>"
)


def canonical_json(d: Dict[str, str]) -> str:
    return json.dumps(d or {}, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


def _fmt_ids(ids: Iterable[int]) -> str:
    return ",".join(str(i) for i in ids)


def node_line(n: dict) -> str:
    return f"OSMNODE|{n['id']}|{n['lat']!r}|{n['lon']!r}|{canonical_json(n['tags'])}"


def way_line(w: dict) -> str:
    return (
        f"OSMWAY|{w['id']}|{_fmt_ids(w['refs'])}|"
        f"{canonical_json(w['tags'])}|{canonical_json(w.get('info', {}))}"
    )


def relation_line(r: dict, way_refs: List[int], stop_refs: List[int]) -> str:
    return (
        f"OSMREL|{r['id']}|{_fmt_ids(way_refs)}|{_fmt_ids(stop_refs)}|"
        f"{canonical_json(r['tags'])}|{canonical_json(r.get('info', {}))}"
    )


def entities_to_pages(
    nodes: List[dict],
    ways: List[dict],
    relations: List[dict],
    entities_per_page: int = 50,
) -> List[Tuple[str, datetime, bytes, str, str]]:
    """Deterministically pack entities into page rows (seedless: pure
    function of the input order)."""
    pages = []
    page_no = 0

    def emit(kind: str, lines: List[str]):
        nonlocal page_no
        for i in range(0, len(lines), entities_per_page):
            chunk = lines[i : i + entities_per_page]
            header = f"GEOPAGE|{page_no}|{kind}|{len(chunk)}"
            text = "\n".join([header] + chunk)
            html = (PAGE_PREFIX + text + PAGE_SUFFIX).encode("utf-8")
            url = f"https://fixture.test/{kind}/{page_no}"
            ts = datetime.fromtimestamp(
                _EPOCH.timestamp() + page_no, tz=timezone.utc
            )
            lang = "es" if page_no % 2 == 0 else "en"
            pages.append((url, ts, html, text, lang))
            page_no += 1

    emit("node", [node_line(n) for n in nodes])
    emit("way", [way_line(w) for w in ways])
    emit(
        "relation",
        [
            relation_line(
                r,
                [m[1] for m in r["members"] if m[2] == "way"],
                [m[1] for m in r["members"] if m[2] == "node"],
            )
            if "members" in r
            else relation_line(r, r["way_refs"], r["stop_refs"])
            for r in relations
        ],
    )
    return pages


def pages_df(spark: SparkSession, pages) -> DataFrame:
    from ..session import local_df

    return local_df(spark, pages, PAGES_DDL)


# --- extraction (W1): pure Catalyst --------------------------------------------
#
# Everything stays inside whole-stage codegen: substring to recover text
# from html (byte-identical), split to lines, split fields with a limit
# (pipes inside the trailing JSON survive), from_json for the tag/info
# maps. A pandas/Arrow extractor that round-tripped the payload through
# Python measured ~39 s for 80k pages on local[32], the transfer alone
# dominating the ~2 s of parsing; it survives only as the test oracle
# (tests/extract_oracle.py).
#
# One documented limitation: way/relation lines carry TWO trailing JSON
# objects ('tags|info'), split on the first literal '}|{' boundary — a
# tag VALUE containing that exact 3-byte sequence would mis-split (node
# lines are immune: single trailing JSON). The oracle has no such limit;
# tests assert both agree on the reference fixture (real OSM tags with
# unicode/quotes) and on synthetic pages.


def _recovered_text():
    return F.expr(
        f"substring(decode(html, 'UTF-8'), {len(PAGE_PREFIX) + 1}, "
        f"length(decode(html, 'UTF-8')) - {len(PAGE_PREFIX) + len(PAGE_SUFFIX)})"
    )


def _lines(pages: DataFrame, prefix: str, line_filter=None) -> DataFrame:
    # Sound page-level prefilter (round 6): a page with ANY matching
    # line necessarily contains the prefix bytes in its raw html, so
    # non-matching pages are dropped BEFORE the decode+split+explode
    # (checked on the binary column — no decode). Each entity kind's
    # scan pays full line-splitting only for its own pages instead of
    # the whole corpus; may only over-select (the exact per-line
    # startswith below is unchanged).
    pages = pages.filter(F.contains("html", F.lit(prefix.encode("utf-8"))))
    df = pages.select(
        F.explode(F.split(_recovered_text(), "\n")).alias("line")
    ).filter(F.col("line").startswith(prefix))
    if line_filter is not None:
        # sound string prefilter (tagfilter.line_prefilter): drops lines
        # before any from_json parse; exact map filter re-applied later
        df = df.filter(line_filter)
    return df


def _ids_expr(col):
    return F.when(col == "", F.array().cast("array<bigint>")).otherwise(
        F.transform(F.split(col, ","), lambda x: x.cast("bigint"))
    )


def _json_map(col):
    """map<string,string> from a canonical-JSON column, with a fast
    path for the ubiquitous empty object: ``from_json('{}')`` and
    ``map()`` are the same value, and most entity lines carry no tags,
    so skipping the Jackson parse for the literal ``{}`` removes the
    per-line parser cost without changing any result."""
    return F.when(col == "{}", F.expr("map()")).otherwise(
        F.from_json(col, "map<string,string>")
    )


def _json_pair(rest):
    """Split 'tags_json|info_json' on the first '}|{' boundary."""
    cut = F.instr(rest, "}|{")
    tags = _json_map(F.substring(rest, F.lit(1), cut))
    info = _json_map(F.substr(rest, cut + F.lit(2)))
    return tags, info


def extract_nodes_sql(pages: DataFrame, line_filter=None) -> DataFrame:
    lines = _lines(pages, "OSMNODE|", line_filter)
    p = F.split("line", r"\|", 5)  # limit: tags JSON may contain pipes
    return lines.select(
        F.get(p, 1).cast("bigint").alias("id"),
        F.get(p, 2).cast("double").alias("lat"),
        F.get(p, 3).cast("double").alias("lon"),
        _json_map(F.get(p, 4)).alias("tags"),
    )


def extract_ways_sql(pages: DataFrame, line_filter=None) -> DataFrame:
    lines = _lines(pages, "OSMWAY|", line_filter)
    p = F.split("line", r"\|", 4)
    tags, info = _json_pair(F.get(p, 3))
    return lines.select(
        F.get(p, 1).cast("bigint").alias("id"),
        tags.alias("tags"),
        info.alias("info"),
        _ids_expr(F.get(p, 2)).alias("refs"),
    )


def extract_relations_sql(pages: DataFrame, line_filter=None) -> DataFrame:
    lines = _lines(pages, "OSMREL|", line_filter)
    p = F.split("line", r"\|", 5)
    tags, info = _json_pair(F.get(p, 4))
    return lines.select(
        F.get(p, 1).cast("bigint").alias("id"),
        tags.alias("tags"),
        info.alias("info"),
        _ids_expr(F.get(p, 2)).alias("way_refs"),
        _ids_expr(F.get(p, 3)).alias("stop_refs"),
    )


def extract_all(pages: DataFrame):
    """One call -> (nodes, ways, relations)."""
    return (
        extract_nodes_sql(pages),
        extract_ways_sql(pages),
        extract_relations_sql(pages),
    )
