"""Coordinate-text and CSV coordinate sources (SURVEY.md §2.1 S5/S6).

Replicates the reference's plain-text and CSV coordinate parsers
(reference: treesight/parsers/coordinate_parser.py): lat,lon lines → point
buffer circles (32-segment, 500 m default) or a polygon when ≥ 3 pairs;
fuzzy lat/lon/name column matching for CSV. Output rows are Feature-shaped
and flow into prepare_aois like KML features.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from azure_workflow_for_kml_satellite_spark.constants import MAX_COORDINATE_ROWS
from azure_workflow_for_kml_satellite_spark.functions.geometry import (
    ensure_closed,
    flatten_ring,
    point_buffer_ring,
)
from azure_workflow_for_kml_satellite_spark.operators.extract import FEATURES_SCHEMA
from azure_workflow_for_kml_satellite_spark.operators.rows import map_rows

DEFAULT_BUFFER_M = 500.0

# reference: coordinate_parser.py:36-42
_PAIR_RE = re.compile(
    r"^\s*(?P<lat>[+-]?\d+(?:\.\d+)?)\s*[,;\t ]\s*(?P<lon>[+-]?\d+(?:\.\d+)?)\s*$"
)


def parse_coordinate_text(text: str, source: str, buffer_m: float = DEFAULT_BUFFER_M) -> list[dict]:
    """reference: coordinate_parser.py:91-163. Returns feature dicts or a
    single error dict."""
    pairs: list[tuple[float, float]] = []
    try:
        for line in text.strip().splitlines():
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            m = _PAIR_RE.match(line)
            if not m:
                raise ValueError(f"Cannot parse coordinate line: {line!r}")
            lat, lon = float(m.group("lat")), float(m.group("lon"))
            if not -90.0 <= lat <= 90.0:
                raise ValueError(f"Latitude {lat} out of range [-90, 90]")
            if not -180.0 <= lon <= 180.0:
                raise ValueError(f"Longitude {lon} out of range [-180, 180]")
            pairs.append((lat, lon))
        if not pairs:
            raise ValueError("No coordinates found in input")
        if len(pairs) > MAX_COORDINATE_ROWS:
            raise ValueError(
                f"Too many coordinates ({len(pairs)}); maximum is {MAX_COORDINATE_ROWS}"
            )
    except ValueError as exc:
        return [{"source": source, "error": str(exc)}]

    feats: list[dict] = []
    if len(pairs) <= 2:
        # 1-2 points → each becomes a buffer circle polygon
        for i, (lat, lon) in enumerate(pairs):
            feats.append(
                {
                    "source": source,
                    "feature_index": i,
                    "name": f"Point ({lat:.6f}, {lon:.6f})",
                    "exterior": point_buffer_ring(lat, lon, buffer_m),
                    "error": None,
                }
            )
    else:
        # ≥3 points → polygon; input is lat,lon, ring is [lon, lat]
        ring = ensure_closed([[lon, lat] for lat, lon in pairs])
        feats.append(
            {
                "source": source,
                "feature_index": 0,
                "name": "Coordinate polygon",
                "exterior": ring,
                "error": None,
            }
        )
    return feats


COORD_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("feature_index", T.IntegerType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("exterior", T.ArrayType(T.DoubleType()), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def coordinate_text_features(
    df: DataFrame, text_col: str = "coords_text", source_col: str = "source",
    buffer_m: float = DEFAULT_BUFFER_M,
) -> DataFrame:
    """DataFrame of (source, coords_text) → feature rows."""

    def text_rows(rec: dict) -> list[dict]:
        return [
            {
                "source": f["source"],
                "feature_index": f.get("feature_index"),
                "name": f.get("name"),
                "exterior": flatten_ring(f["exterior"]) if "exterior" in f else None,
                "error": f.get("error"),
            }
            for f in parse_coordinate_text(str(rec[text_col]), str(rec[source_col]), buffer_m)
        ]

    return map_rows(
        df.select(source_col, text_col), [], [source_col, text_col],
        COORD_FEATURES_SCHEMA.fields, text_rows,
    )


# fuzzy CSV column matching (reference: coordinate_parser.py:166-249)
_LAT_NAMES = ("lat", "latitude", "y")
_LON_NAMES = ("lon", "lng", "long", "longitude", "x")
_NAME_NAMES = ("name", "label", "id", "title")


def match_columns(columns: list[str]) -> tuple[str | None, str | None, str | None]:
    low = {c.lower().strip(): c for c in columns}

    def pick(cands):
        for c in cands:
            if c in low:
                return low[c]
        for k, orig in low.items():
            if any(k.startswith(c) for c in cands):
                return orig
        return None

    return pick(_LAT_NAMES), pick(_LON_NAMES), pick(_NAME_NAMES)


def csv_point_features(
    csv_df: DataFrame, source: str = "csv", buffer_m: float = DEFAULT_BUFFER_M
) -> DataFrame:
    """spark.read.csv output → per-row point-buffer features (S6)."""
    lat_c, lon_c, name_c = match_columns(csv_df.columns)
    if not lat_c or not lon_c:
        raise ValueError(f"CSV must contain lat/lon columns; got {csv_df.columns}")

    # global row index in input order (feature_index must be stable across
    # Arrow batches AND partitions — a per-batch enumerate restarts at each
    # 4096-row batch and collides dedup keys at scale)
    from pyspark.sql import Window

    csv_df = csv_df.withColumn(
        "_row_idx",
        F.row_number().over(Window.orderBy(F.monotonically_increasing_id())) - 1,
    )

    def point_row(rec: dict) -> list[dict]:
        try:
            lat, lon = float(rec[lat_c]), float(rec[lon_c])
            if not (-90 <= lat <= 90 and -180 <= lon <= 180):
                raise ValueError(f"coordinates out of range: {lat},{lon}")
        except (TypeError, ValueError) as exc:
            return [
                {"source": source, "feature_index": None, "name": None,
                 "exterior": None, "error": str(exc)}
            ]
        nm = str(rec[name_c]) if name_c and rec[name_c] is not None else (
            f"Point ({lat:.6f}, {lon:.6f})"
        )
        return [
            {
                "source": source,
                "feature_index": int(rec["_row_idx"]),
                "name": nm,
                "exterior": flatten_ring(point_buffer_ring(lat, lon, buffer_m)),
                "error": None,
            }
        ]

    needed = ["_row_idx", lat_c, lon_c] + ([name_c] if name_c else [])
    return map_rows(csv_df, [], needed, COORD_FEATURES_SCHEMA.fields, point_row)


def coord_features_to_feature_rows(coord_feats: DataFrame) -> DataFrame:
    """Adapt S5/S6 output to the KML feature schema so prepare_aois applies."""
    from pyspark.sql import functions as F

    ok = coord_feats.filter(F.col("error").isNull())
    return ok.select(
        F.col("source").alias("url"),
        F.col("feature_index"),
        F.col("name"),
        F.lit("").alias("description"),
        F.col("exterior"),
        F.array().cast(FEATURES_SCHEMA["interior"].dataType).alias("interior"),
        F.create_map().cast(FEATURES_SCHEMA["metadata"].dataType).alias("metadata"),
        F.concat_ws(":", "source", F.col("feature_index").cast("string")).alias("dedup_key"),
        (F.size("exterior") / 2).cast("int").alias("vertex_count"),
        F.lit(False).alias("has_holes"),
        F.lit(None).cast("string").alias("extracted_text"),
        F.lit(None).cast("string").alias("error"),
    )

