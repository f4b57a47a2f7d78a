"""Output checks, run after timing stops.

Two kinds of check, each counted as one attempted output:

* an order-independent digest of every written output table, compared with
  the digest recorded for the seed's input set in ``expected.json``;
* a seeded sample of NDVI and change rows re-derived with the independent
  ``oracle/kernels.py`` and compared field by field for exact equality.
"""

from __future__ import annotations

import hashlib
import random
from pathlib import Path

import pyarrow.dataset as ds

_MASK = (1 << 64) - 1


def _canon(v) -> str:
    # repr is exact for floats (shortest round trip), so equal digests mean
    # bit-identical values; nested lists, bytes and timestamps repr stably
    return repr(v)


def digest_table(table) -> dict:
    """Row count plus a multiset hash of the rows: the sum mod 2**64 of a
    per-row hash, which no row order can change."""
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    schema = ";".join(f"{f.name}:{f.type}" for f in table.schema)
    total = 0
    for row in zip(*cols):
        h = hashlib.blake2b("\x1f".join(map(_canon, row)).encode(), digest_size=8)
        total = (total + int.from_bytes(h.digest(), "little")) & _MASK
    return {
        "rows": table.num_rows,
        "schema": hashlib.blake2b(schema.encode(), digest_size=8).hexdigest(),
        "digest": f"{total:016x}",
    }


def read_output(path: Path):
    return ds.dataset(str(path), format="parquet").to_table()


def digest_output(path: Path) -> dict:
    return digest_table(read_output(path))


# ── oracle re-derivation ────────────────────────────────────────────────────

_NDVI_FIELDS = {
    "ndvi_mean": "mean",
    "ndvi_min": "min",
    "ndvi_max": "max",
    "ndvi_std": "std",
    "ndvi_median": "median",
    "valid_pixels": "valid_pixels",
    "total_pixels": "total_pixels",
}
_CHANGE_FIELDS = {
    "mean_delta": "mean_delta",
    "median_delta": "median_delta",
    "std_delta": "std_delta",
    "min_delta": "min_delta",
    "max_delta": "max_delta",
    "loss_ha": "loss_ha",
    "gain_ha": "gain_ha",
    "stable_ha": "stable_ha",
    "total_ha": "total_ha",
    "loss_pct": "loss_pct",
    "gain_pct": "gain_pct",
    "valid_change_pixels": "valid_pixels",
}


def _page_index(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


def _same(a, b) -> bool:
    """Exact equality; null only matches null."""
    if a is None or b is None:
        return a is None and b is None
    return a == b


def _oracle_masked(row: dict):
    """(stats | None, masked count, masked NDVI raster | None) from the
    independent kernels, or None when the window is empty."""
    import numpy as np

    from azure_workflow_for_kml_satellite_spark.oracle import kernels as K

    bands = K.fetch_window_bands(
        row["scene_id"],
        [row["s_min_lon"], row["s_min_lat"], row["s_max_lon"], row["s_max_lat"]],
        row["resolution_m"],
        [row["min_lon"], row["min_lat"], row["max_lon"], row["max_lat"]],
        row["ndvi_collection"],
    )
    if bands is None:
        return None
    if row["ndvi_collection"] == "landsat-c2-l2":
        ndvi, mask, masked = K.landsat_ndvi(bands["red"], bands["nir"], bands.get("qa"))
    else:
        ndvi, mask, masked = K.s2_ndvi(bands["red"], bands["nir"], bands.get("scl"))
    stats = K.ndvi_stats(ndvi, mask)
    raster = np.where(mask, ndvi, np.nan).astype(np.float32) if stats else None
    return stats, masked, raster


def check_ndvi_row(row: dict) -> bool:
    got = _oracle_masked(row)
    if got is None or got[0] is None:
        return all(row[c] is None for c in (*_NDVI_FIELDS, "masked_pixels"))
    stats, masked, _ = got
    return _same(row["masked_pixels"], masked) and all(
        _same(row[c], stats[k]) for c, k in _NDVI_FIELDS.items()
    )


def check_change_row(row: dict, a: dict, b: dict) -> bool:
    from azure_workflow_for_kml_satellite_spark.constants import (
        CHANGE_GAIN_THRESHOLD,
        CHANGE_LOSS_THRESHOLD,
    )
    from azure_workflow_for_kml_satellite_spark.oracle import kernels as K

    ra, rb = _oracle_masked(a), _oracle_masked(b)
    if ra is None or rb is None or ra[2] is None or rb[2] is None:
        return False  # a change row needs two frames with valid pixels
    area = abs(a["resolution_m"] * a["resolution_m"]) / 10_000
    st = K.delta_stats(ra[2], rb[2], area, CHANGE_LOSS_THRESHOLD, CHANGE_GAIN_THRESHOLD)
    if st is None:
        return False
    label = f"{row['season'].capitalize()} {row['year_from']} → {row['year_to']}"
    return row["label"] == label and all(
        _same(row[c], st[k]) for c, k in _CHANGE_FIELDS.items()
    )


def _sample(rows: list[dict], rng: random.Random, n: int, mega: int, monster: int) -> list[dict]:
    """``n`` rows at random plus up to ``mega`` rows of mega pages (i % 1000
    == 13) and ``monster`` rows of monster pages (i % 500 == 7), whose
    windows are the largest and the most numerous."""
    megas = [r for r in rows if _page_index(r["url"]) % 1000 == 13]
    monsters = [r for r in rows if _page_index(r["url"]) % 500 == 7]
    picked = rng.sample(rows, min(n, len(rows)))
    picked += rng.sample(megas, min(mega, len(megas)))
    picked += rng.sample(monsters, min(monster, len(monsters)))
    return picked


def oracle_checks(out: Path, seed: int, n_ndvi: int = 16, n_change: int = 8) -> list[tuple[str, bool]]:
    """Re-derive a seeded sample of NDVI and change rows; one result per row."""
    ndvi = read_output(out / "ndvi").to_pylist()
    change = read_output(out / "change").to_pylist()
    rng = random.Random(seed)
    results = [
        (f"ndvi:{r['url']}#{r['feature_index']}@{r['frame_id']}", check_ndvi_row(r))
        for r in _sample(ndvi, rng, n_ndvi, mega=1, monster=2)
    ]
    by_key = {}
    for r in ndvi:
        if r["ndvi_mean"] is not None:
            key = (r["url"], r["feature_index"], r["season"], r["year"])
            by_key.setdefault(key, []).append(r)
    # a mega change pair would re-derive two mega windows: the NDVI sample
    # already covers that window size
    for r in _sample(change, rng, n_change, mega=0, monster=1):
        base = (r["url"], r["feature_index"], r["season"])
        a = by_key.get((*base, r["year_from"]), [])
        b = by_key.get((*base, r["year_to"]), [])
        ok = len(a) == 1 and len(b) == 1 and check_change_row(r, a[0], b[0])
        results.append((f"change:{r['url']}#{r['feature_index']}:{r['label']}", ok))
    return results
