"""Extraction oracle: the pandas/Arrow page extractor.

The library extracts entities with pure Catalyst expressions
(``osmptparser_spark.sources.pages.extract_*_sql``). This module is an
independent reference for it: a ``mapInPandas`` line parser that reads
the ``text`` column (the SQL path recovers text from ``html``), parses
trailing JSON objects with ``raw_decode`` (so it has no ``'}|{'``
limitation), and builds the same three tables.
"""

import json
from typing import Iterator, List

from pyspark.sql import DataFrame

from osmptparser_spark.sources.pages import NODES_DDL, RELATIONS_DDL, WAYS_DDL

_DECODER = json.JSONDecoder()


def _parse_json_tail(rest: str, n_json: int) -> List[dict]:
    """Parse ``|``-separated JSON objects robustly (values may contain
    pipes): raw_decode each object, expect a '|' between them."""
    out = []
    pos = 0
    for _ in range(n_json):
        obj, end = _DECODER.raw_decode(rest, pos)
        out.append(obj)
        pos = end + 1  # skip the separating '|'
    return out


def _ids(s: str) -> List[int]:
    return [int(x) for x in s.split(",")] if s else []


def _iter_lines(pdf):
    for text in pdf["text"]:
        yield from text.split("\n")


def extract_nodes(pages: DataFrame) -> DataFrame:
    import pandas as pd

    def gen(batches: Iterator) -> Iterator:
        for pdf in batches:
            rows = []
            for line in _iter_lines(pdf):
                if not line.startswith("OSMNODE|"):
                    continue
                _, nid, lat, lon, tags_json = line.split("|", 4)
                rows.append((int(nid), float(lat), float(lon), json.loads(tags_json)))
            yield pd.DataFrame(rows, columns=["id", "lat", "lon", "tags"])

    return pages.mapInPandas(gen, NODES_DDL)


def extract_ways(pages: DataFrame) -> DataFrame:
    import pandas as pd

    def gen(batches: Iterator) -> Iterator:
        for pdf in batches:
            rows = []
            for line in _iter_lines(pdf):
                if not line.startswith("OSMWAY|"):
                    continue
                _, wid, refs, rest = line.split("|", 3)
                tags, info = _parse_json_tail(rest, 2)
                rows.append((int(wid), tags, info, _ids(refs)))
            yield pd.DataFrame(rows, columns=["id", "tags", "info", "refs"])

    return pages.mapInPandas(gen, WAYS_DDL)


def extract_relations(pages: DataFrame) -> DataFrame:
    import pandas as pd

    def gen(batches: Iterator) -> Iterator:
        for pdf in batches:
            rows = []
            for line in _iter_lines(pdf):
                if not line.startswith("OSMREL|"):
                    continue
                _, rid, way_refs, stop_refs, rest = line.split("|", 4)
                tags, info = _parse_json_tail(rest, 2)
                rows.append((int(rid), tags, info, _ids(way_refs), _ids(stop_refs)))
            yield pd.DataFrame(
                rows, columns=["id", "tags", "info", "way_refs", "stop_refs"]
            )

    return pages.mapInPandas(gen, RELATIONS_DDL)
