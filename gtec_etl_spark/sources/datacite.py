"""DataCite-style REST JSON source — S14 (ccmm/gtex/rnaseq_datasets.py:
160-202 in the reference).

The reference urlopens the works API, builds a title→DOI map, and fatals on
version anomalies or duplicate titles. Network I/O is a driver-side edge
concern; the engine surface is the transform: response payload →
(doi, title, version) DataFrame + the duplicate-title constraint as a
violations DataFrame.

The fetch boundary is an injectable TRANSPORT (url -> response body):
`http_transport` is the live path (unreachable in this no-network
container), `recorded_transport` replays a recorded payload file through
the exact same fetch→paginate→parse pipeline, so everything except the
socket itself is exercised in tests."""

from __future__ import annotations

import json
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

Transport = Callable[[str], str]


def http_transport(url: str) -> str:  # pragma: no cover - needs network
    """Live driver-side HTTP GET (the reference's urlopen at
    rnaseq_datasets.py:160-202). Unreachable in this container; swap in
    recorded_transport for tests/replays."""
    from urllib.request import urlopen

    with urlopen(url, timeout=60) as resp:
        return resp.read().decode("utf-8")


def recorded_transport(source: str | Mapping[str, str]) -> Transport:
    """Transport replaying a recorded works-API response.

    `source` is either a path to a single recorded page (served for any
    url — the common one-page capture) or a {url: payload} mapping for
    multi-page recordings; unknown urls raise KeyError like a dead link.
    """
    if isinstance(source, Mapping):
        pages = dict(source)
        return lambda url: pages[url]
    with open(source, encoding="utf-8") as fh:
        payload = fh.read()
    return lambda url: payload


def fetch_works(url: str, transport: Transport | None = None) -> str:
    """Fetch one works-API page via the given transport (live HTTP when
    None — the documented no-network boundary)."""
    return (transport or http_transport)(url)


def load_works(
    spark: SparkSession, url: str, transport: Transport | None = None,
    max_pages: int = 1000,
) -> DataFrame:
    """Full fetch pipeline: GET the works API, follow `links.next`
    pagination, parse every page into one (doi, title, version) DataFrame.
    The reference's fetch+parse loop (rnaseq_datasets.py:160-202) with the
    transport injected so recorded replays run the identical code path."""
    rows: list[tuple] = []
    seen: set[str] = set()
    next_url: str | None = url
    while next_url and next_url not in seen and len(seen) < max_pages:
        seen.add(next_url)
        doc = json.loads(fetch_works(next_url, transport))
        rows.extend(_work_rows(doc))
        next_url = (doc.get("links") or {}).get("next")
    return spark.createDataFrame(rows, "doi string, title string, version string")


def _work_rows(doc: dict) -> list[tuple]:
    out = []
    for rec in doc.get("data", []):
        attrs = rec.get("attributes", {})
        titles = attrs.get("titles", [])
        title = titles[0].get("title") if titles else None
        out.append((attrs.get("doi"), title, attrs.get("version")))
    return out


def parse_works(spark: SparkSession, payload: str) -> DataFrame:
    """Parse a works-API JSON payload ({data:[{attributes:{doi,titles,
    version}}]}) into a (doi, title, version) DataFrame."""
    return spark.createDataFrame(
        _work_rows(json.loads(payload)), "doi string, title string, version string"
    )


def duplicate_titles(works: DataFrame) -> DataFrame:
    """The reference's fatal-on-duplicate-title check
    (rnaseq_datasets.py:188-196) as a violations DataFrame."""
    return (
        works.groupBy("title")
        .agg(F.count(F.lit(1)).alias("n"), F.sort_array(F.collect_list("doi")).alias("dois"))
        .filter(F.col("n") > 1)
    )


def version_anomalies(
    works: DataFrame, expected: str, exempt_prefixes: tuple[str, ...] = ()
) -> DataFrame:
    """The reference's fatal-on-unexpected-version check
    (rnaseq_datasets.py:177-180: everything must be the expected version
    except titles under documented exempt prefixes) as a violations
    DataFrame — empty means the batch passes; non-empty rows carry the
    (doi, title, version) the reference would have fataled on."""
    bad = F.col("version") != F.lit(expected)
    for p in exempt_prefixes:
        bad = bad & ~F.coalesce(
            F.col("title").startswith(p), F.lit(False)
        )
    return works.filter(bad).select("doi", "title", "version")


def missing_titles(works: DataFrame, wanted: DataFrame) -> DataFrame:
    """The reference's couldn't-find-dataset fatal
    (rnaseq_datasets.py:196-199): wanted titles with no works entry, as an
    anti-join violations DataFrame (`wanted` has a `title` column)."""
    return wanted.join(works.select("title"), "title", "left_anti")
