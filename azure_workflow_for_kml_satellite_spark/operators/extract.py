"""pages → geometries extraction stage (SURVEY.md §7.1 step 2; S1-S4).

One ``rows.map_rows`` pass over the pages table: per page, find embedded KML /
KMZ documents in ``html``, run the zip-bomb-guarded KMZ extraction
(reference: parsers/__init__.py:37-82), structural validation
(parsers/__init__.py:88-114) and the canonical polygon parse
(lxml_parser.py:17-51), and explode to one output row per polygon feature —
the grouped-map/UDTF shape from SURVEY.md §2.10. Invalid documents become
quarantine rows (error column) instead of failing the job.

The byte-identical-per-url text invariant (BASELINE.json input_hint) has
its own gated query (q_page_text: engine regex pipeline vs the oracle's
independent scanner); re-deriving the text here too is available behind
``with_text=True`` but OFF in the hot path — emitting page-sized text on
every feature row multiplied Arrow-out traffic by the feature count (200×
on monster pages) for a column nothing downstream consumed (the
"html through Arrow twice" cost documented in BASELINE.md §Measured).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from azure_workflow_for_kml_satellite_spark.constants import MAX_FEATURES_PER_KML
from azure_workflow_for_kml_satellite_spark.functions import kml as kml_fn
from azure_workflow_for_kml_satellite_spark.functions.geometry import flatten_ring
from azure_workflow_for_kml_satellite_spark.operators.rows import map_rows

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("feature_index", T.IntegerType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        # Rings are flattened [lon0,lat0,lon1,lat1,...] (see geometry.flatten_ring)
        T.StructField("exterior", T.ArrayType(T.DoubleType()), True),
        T.StructField("interior", T.ArrayType(T.ArrayType(T.DoubleType())), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("dedup_key", T.StringType(), True),
        T.StructField("vertex_count", T.IntegerType(), True),
        T.StructField("has_holes", T.BooleanType(), True),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def _extract_page(url: str, html: bytes, with_text: bool = False) -> list[dict]:
    """Feature rows (or one quarantine/empty row) for a single page."""
    out: list[dict] = []
    text = kml_fn.extract_text(html) if with_text else None
    docs = kml_fn.extract_kml_documents(html)
    feature_index = 0  # global across all docs of one page → dedup_key unique per url
    for doc in docs:
        try:
            data = kml_fn.maybe_unzip(doc)
            kml_fn.validate_kml_bytes(data)
            feats = kml_fn.parse_kml(data, source_file=url)
            if len(feats) > MAX_FEATURES_PER_KML:
                raise ValueError(
                    f"KML contains {len(feats)} features; maximum is {MAX_FEATURES_PER_KML}"
                )
        except ValueError as exc:
            out.append(
                {
                    "url": url,
                    "feature_index": None,
                    "name": None,
                    "description": None,
                    "exterior": None,
                    "interior": None,
                    "metadata": None,
                    "dedup_key": None,
                    "vertex_count": None,
                    "has_holes": None,
                    "extracted_text": text,
                    "error": str(exc),
                }
            )
            continue
        for f in feats:
            out.append(
                {
                    "url": url,
                    "feature_index": feature_index,
                    "name": f["name"],
                    "description": f["description"],
                    "exterior": flatten_ring(f["exterior_coords"]),
                    "interior": [flatten_ring(r) for r in f["interior_coords"]],
                    "metadata": f["metadata"],
                    # reference: models/feature.py:46-54
                    "dedup_key": f"{url}:{feature_index}",
                    "vertex_count": len(f["exterior_coords"]),
                    "has_holes": len(f["interior_coords"]) > 0,
                    "extracted_text": text,
                    "error": None,
                }
            )
            feature_index += 1
    return out


def extract_features(
    pages: DataFrame, prefilter: bool = True, with_text: bool = False
) -> DataFrame:
    """pages(url, html, ...) → one row per parsed polygon feature.

    ``with_text`` re-derives the page's visible text into ``extracted_text``
    (one regex pipeline per page + page-sized strings on every feature row)
    — leave off unless a consumer actually reads it.

    ``prefilter`` keeps a JVM-side `contains` gate in front of the Arrow
    transfer: a page can only yield features (or quarantine rows) if its
    html contains an inline ``<kml`` block or a KMZ script payload, so pages
    with neither marker are dropped inside whole-stage codegen and their
    html bytes NEVER cross into Python. On the synthetic corpus every page
    embeds KML (no-op); on a real web corpus well under 1% of pages do,
    making this the dominant extraction optimization at 100 TB — the scan
    still reads the html column, but Arrow serialization + Python regex work
    shrink by the selectivity factor."""

    src = pages.select("url", "html")
    if prefilter:
        kml_marker = F.lit(b"<kml")
        kmz_marker = F.lit(b'<script type="application/vnd.kmz">')
        src = src.filter(
            F.contains("html", kml_marker) | F.contains("html", kmz_marker)
        )
    return map_rows(
        src, [], ["url", "html"], FEATURES_SCHEMA.fields,
        lambda rec: _extract_page(rec["url"], bytes(rec["html"]), with_text),
    )
