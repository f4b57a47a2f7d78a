"""Workload inputs, batch jobs, and the same jobs split into traced layer
calls.

Two workloads are timed end to end: ``ndvi_season`` and
``catalog_join_10y``. The text and ANN operators run as the ``text_ann`` job
only inside the ``catalog_join_10y`` traced run, as extra layers after its
job (see README.md for why they are not timed end to end).

Inputs are a pure function of the seed. The seed picks one of
``SEED_CLASSES`` input sets, so the digest of every output can be recorded
ahead of time for every seed (``expected.json``, see ``record.py``).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

SEED_CLASSES = 16
# Pages per geo workload. Windows start at multiples of 1000, so each one
# holds exactly PAGES/500 monster pages (i % 500 == 7) and PAGES/1000 mega
# pages (i % 1000 == 13).
PAGES = 1000
WINDOW_STRIDE = 500_000
# catalog_join_10y reads the same page mix from windows between ndvi_season's
WINDOW_BASE = {"ndvi_season": 0, "catalog_join_10y": 250_000}
# dimension tables shared by every seed, read from the repo's sf0.1 data
SF_DIR = ROOT / "data" / "sf0.1"
DIM_TABLES = (
    "scenes",
    "frames",
    "regions",
    "weather_daily",
    "protected_areas",
    "fire_events",
    "flood_gauges",
)
DOCUMENTS = HERE / "data" / "documents.parquet"
EMBEDDINGS = HERE / "data" / "embeddings.parquet"
N_QUERIES = 10
TOP_K = 10

NDVI_WINDOW = ("2022-01-01", "2023-12-31")
CATALOG_WINDOW = ("2014-01-01", "2023-12-31")


def seed_class(seed: int) -> int:
    return seed % SEED_CLASSES


def page_offset(workload: str, seed: int) -> int:
    return WINDOW_BASE[workload] + seed_class(seed) * WINDOW_STRIDE


def query_ids(seed: int, n_vectors: int) -> list[int]:
    return sorted(random.Random(seed_class(seed)).sample(range(n_vectors), N_QUERIES))


@dataclass
class Inputs:
    seed: int
    engine_dir: Path | None = None  # geo: pages + links to the dimension tables
    query_ids: list[int] = field(default_factory=list)
    sizes: dict = field(default_factory=dict)


def write_pages(engine_dir: Path, offset: int, n_pages: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from azure_workflow_for_kml_satellite_spark.sources.synth import build_page

    rows = [build_page(i) for i in range(offset, offset + n_pages)]
    table = pa.table(
        {
            "url": [r["url"] for r in rows],
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": [r["text"] for r in rows],
            "lang": [r["lang"] for r in rows],
        }
    )
    # the same row-group size synth.write_pages uses, so scans split alike
    pq.write_table(table, engine_dir / "pages.parquet", row_group_size=1024)


def make_inputs(workload: str, seed: int, work: Path) -> Inputs:
    """The seed's inputs: query ids for the text job, and for a geo
    workload its page window plus links to the dimension tables."""
    import pyarrow.parquet as pq

    inp = Inputs(seed=seed)
    inp.query_ids = query_ids(seed, pq.read_metadata(EMBEDDINGS).num_rows)
    if workload == "text_ann":
        return inp
    ed = work / "inputs" / f"{workload}-{seed_class(seed)}"
    ed.mkdir(parents=True, exist_ok=True)
    offset = page_offset(workload, seed)
    write_pages(ed, offset, PAGES)
    for name in DIM_TABLES:
        link = ed / f"{name}.parquet"
        if not link.exists():
            os.symlink(SF_DIR / f"{name}.parquet", link)
    inp.engine_dir = ed
    inp.sizes = {"pages": PAGES, "page_offset": offset}
    return inp


# ── untraced jobs ───────────────────────────────────────────────────────────
# Each writes its outputs to ``out`` as parquet, every column written.


def _ndvi_job(spark, inp: Inputs, out: Path):
    from azure_workflow_for_kml_satellite_spark import pipeline as P
    from azure_workflow_for_kml_satellite_spark.operators.change import season_changes
    from azure_workflow_for_kml_satellite_spark.operators.metrics import (
        ndvi_trend_per_aoi,
    )

    nd = P.build_ndvi(spark, str(inp.engine_dir), *NDVI_WINDOW)
    nd.write.parquet(str(out / "ndvi"))
    season_changes(nd).write.parquet(str(out / "change"))
    ndvi_trend_per_aoi(nd).write.parquet(str(out / "trend"))


def _catalog_job(spark, inp: Inputs, out: Path):
    from azure_workflow_for_kml_satellite_spark import pipeline as P
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        spatial_join_best_scene,
    )

    ed = str(inp.engine_dir)
    t = P.load_tables(spark, ed)
    best = spatial_join_best_scene(
        P.build_aois(spark, ed), t["scenes"], t["frames"], *CATALOG_WINDOW
    )
    best.write.parquet(str(out / "best"))


def _text_outputs(docs, emb, qids):
    """(output name, layer name, DataFrame) for the text_ann job."""
    from azure_workflow_for_kml_satellite_spark.operators.dedup import (
        exact_duplicates,
        ngram_jaccard_pairs,
    )
    from azure_workflow_for_kml_satellite_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )
    from azure_workflow_for_kml_satellite_spark.operators.text import quality_score

    return [
        ("exact", "dedup.exact", lambda: exact_duplicates(docs)),
        ("ngram", "dedup.ngram", lambda: ngram_jaccard_pairs(docs, n=3, threshold=0.5)),
        ("quality", "text.quality", lambda: quality_score(docs)),
        ("brute", "similarity.brute", lambda: brute_force_topk(emb, qids, k=TOP_K)),
        ("lsh", "similarity.lsh", lambda: lsh_topk(emb, qids, k=TOP_K)),
        (
            "ivf",
            "similarity.ivf",
            lambda: ivf_topk(emb, qids, k=TOP_K, n_centroids=16, n_probe=4),
        ),
    ]


def _text_job(spark, inp: Inputs, out: Path):
    docs = spark.read.parquet(str(DOCUMENTS))
    emb = spark.read.parquet(str(EMBEDDINGS))
    for name, _layer, build in _text_outputs(docs, emb, inp.query_ids):
        build().write.parquet(str(out / name))


JOBS = {
    "ndvi_season": _ndvi_job,
    "catalog_join_10y": _catalog_job,
    "text_ann": _text_job,
}
OUTPUTS = {
    "ndvi_season": ["ndvi", "change", "trend"],
    "catalog_join_10y": ["best"],
    "text_ann": ["exact", "ngram", "quality", "brute", "lsh", "ivf"],
}


def run_job(workload: str, spark, inp: Inputs, out: Path) -> None:
    JOBS[workload](spark, inp, out)


def count_aois(spark, inp: Inputs) -> int:
    """AOI rows the job produced (read from the session's cached AOIs)."""
    from azure_workflow_for_kml_satellite_spark import pipeline as P

    return P.build_aois(spark, str(inp.engine_dir)).count()


# ── traced jobs ─────────────────────────────────────────────────────────────
# The same work as the untraced job, one layer call at a time. Each call
# runs under its own job group with its inputs already cached; a layer
# whose output feeds the next is cached and materialised with a no-op
# write, a layer whose output is a job output writes it.


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _geo_prefix(spark, tr, inp: Inputs):
    """extract → aoi, each cached. Returns (tables, features, aois)."""
    from azure_workflow_for_kml_satellite_spark import pipeline as P
    from azure_workflow_for_kml_satellite_spark.operators.aoi import prepare_aois
    from azure_workflow_for_kml_satellite_spark.operators.extract import (
        extract_features,
    )
    from azure_workflow_for_kml_satellite_spark.plans import contracts

    with tr.layer("extract"):
        t = P.load_tables(spark, str(inp.engine_dir))
        # the same scan partitioning pipeline.build_aois uses
        pages = t["pages"].repartition(max(16, 2 * P.default_parallelism(spark)))
        feats = contracts.expect(
            extract_features(pages), "extract→aoi", contracts.FEATURES
        ).cache()
        _noop(feats)
    with tr.layer("aoi"):
        aois = contracts.expect(prepare_aois(feats), "aoi→join", contracts.AOIS).cache()
        _noop(aois)
    return t, feats, aois


def _join(t, aois, date_window):
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        spatial_join_best_scene,
    )
    from azure_workflow_for_kml_satellite_spark.plans import contracts

    best = spatial_join_best_scene(aois, t["scenes"], t["frames"], *date_window)
    return contracts.expect(best, "join→ndvi", contracts.BEST_SCENES)


def _traced_ndvi(spark, tr, inp: Inputs, out: Path) -> dict:
    from azure_workflow_for_kml_satellite_spark.operators.change import season_changes
    from azure_workflow_for_kml_satellite_spark.operators.metrics import (
        ndvi_trend_per_aoi,
    )
    from azure_workflow_for_kml_satellite_spark.operators.ndvi import ndvi_stats
    from azure_workflow_for_kml_satellite_spark.pipeline import _ndvi_repartition
    from azure_workflow_for_kml_satellite_spark.plans import contracts

    t, feats, aois = _geo_prefix(spark, tr, inp)
    with tr.layer("spatial_join"):
        best = _join(t, aois, NDVI_WINDOW).cache()
        _noop(best)
    with tr.layer("ndvi"):
        nd = contracts.expect(
            ndvi_stats(_ndvi_repartition(spark, best)),
            "ndvi→change/metrics",
            contracts.NDVI,
        ).cache()
        _noop(nd)
    with tr.layer("write.ndvi"):
        nd.write.parquet(str(out / "ndvi"))
    with tr.layer("change"):
        season_changes(nd).write.parquet(str(out / "change"))
    with tr.layer("metrics"):
        ndvi_trend_per_aoi(nd).write.parquet(str(out / "trend"))
    return {"tables": t, "feats": feats, "aois": aois, "best": best, "ndvi": nd}


def _traced_catalog(spark, tr, inp: Inputs, out: Path) -> dict:
    t, feats, aois = _geo_prefix(spark, tr, inp)
    with tr.layer("spatial_join"):
        _join(t, aois, CATALOG_WINDOW).write.parquet(str(out / "best"))
    return {"tables": t, "feats": feats, "aois": aois}


TRACED_JOBS = {
    "ndvi_season": _traced_ndvi,
    "catalog_join_10y": _traced_catalog,
}


def plan_checks(spark, workload: str, inp: Inputs, state: dict) -> list[tuple[str, bool]]:
    """Whether the traced layer calls compose the engine's own plan: the
    traced AOIs, and on ndvi_season the traced NDVI rows, must have the
    same semantics as ``pipeline.build_aois`` and ``build_ndvi`` give. A
    change to the engine's composition then fails the traced run instead
    of leaving its per-layer figures describing the old plan. Caching does
    not enter the comparison: it leaves a DataFrame's plan as it was."""
    from azure_workflow_for_kml_satellite_spark import pipeline as P

    ed = str(inp.engine_dir)
    pairs = [("aoi", state["aois"], P.build_aois(spark, ed))]
    if workload == "ndvi_season":
        pairs.append(("ndvi", state["ndvi"], P.build_ndvi(spark, ed, *NDVI_WINDOW)))
    return [(f"plan/{name}", traced.sameSemantics(engine)) for name, traced, engine in pairs]


def text_side_runs(spark, tr, inp: Inputs, out: Path) -> None:
    """The text_ann job, one operator per layer, after the traced job: the
    documents and embeddings are cached first, then every operator writes
    its output to ``out``."""
    with tr.layer("text.inputs", root=True):
        docs = spark.read.parquet(str(DOCUMENTS)).cache()
        emb = spark.read.parquet(str(EMBEDDINGS)).cache()
        _noop(docs)
        _noop(emb)
    for name, layer, build in _text_outputs(docs, emb, inp.query_ids):
        with tr.layer(layer, root=True):
            build().write.parquet(str(out / name))


def ndvi_side_runs(spark, tr, state: dict) -> None:
    """Boundary runs on the traced session, after the job: a pass-through
    ``mapInPandas`` over the same repartitioned join rows (the Arrow floor)
    and a freshly built NDVI plan run a second time (the warm stage). The
    job's cached NDVI rows are dropped first, or Spark would serve the
    second plan from that cache."""
    from azure_workflow_for_kml_satellite_spark.operators.ndvi import ndvi_stats
    from azure_workflow_for_kml_satellite_spark.pipeline import _ndvi_repartition

    state["ndvi"].unpersist(blocking=True)
    best = state["best"]

    def passthrough(batches):
        yield from batches

    with tr.layer("ndvi.arrow_floor", root=True):
        _noop(_ndvi_repartition(spark, best).mapInPandas(passthrough, best.schema))
    with tr.layer("ndvi.warm", root=True):
        _noop(ndvi_stats(_ndvi_repartition(spark, best)))


def candidate_count(state: dict, date_window) -> int:
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        DEFAULT_CELL_RES,
        scene_frame_candidates,
        spatial_join_candidates,
    )

    t = state["tables"]
    sf = scene_frame_candidates(t["scenes"], t["frames"], *date_window)
    return spatial_join_candidates(state["aois"], sf, DEFAULT_CELL_RES, None, 1).count()
