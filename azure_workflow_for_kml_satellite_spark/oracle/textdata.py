"""Independent expected-parquet builder for the text/dedup operators whose
math DuckDB cannot reproduce (they hinge on Spark's xxhash64).

Everything here is a second implementation: tokenization replicates the
contract of ``split(lower(trim(text)), '\\s+')`` with Java regex semantics,
hashing uses oracle/xxh64.py (pure Python, JVM-validated), and the
MinHash-LSH / SimHash pipelines are re-derived from their definitions —
no engine operator code is imported.

Outputs (written to ``data/<sf>/expected/``):
- ``simhash.parquet``       (doc_id, simhash)
- ``minhash_pairs.parquet`` (id_a, id_b, jaccard)  — full banded-LSH +
  exact-Jaccard-verify pipeline at the gate query's parameters
- ``fingerprint.parquet``   (doc_id, text_hash, min_window_hash)

Rounding note: the engine's jaccard is rounded by Spark's ``round`` (JVM
HALF_UP over the double's shortest decimal repr — BigDecimal.valueOf);
``_jvm_round`` replicates that exactly (Python's repr() is the same
shortest-round-trip string).
"""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from azure_workflow_for_kml_satellite_spark.oracle.xxh64 import xxhash64

_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def spark_tokens(text: str) -> list[str]:
    """Replicates split(lower(trim(text)), '\\s+'): trim strips SPACES only,
    Java \\s is ASCII-only, split keeps leading/trailing empties (limit -1)."""
    return _JAVA_WS.split(text.strip(" ").lower())


def _jvm_round(v: float, nd: int) -> float:
    return float(Decimal(repr(v)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))


def _shingle_set(toks: list[str], n: int) -> set[int]:
    if len(toks) >= n:
        return {xxhash64(" ".join(toks[i : i + n])) for i in range(len(toks) - n + 1)}
    return {xxhash64(" ".join(toks))}


def simhash_of(toks: list[str], bits: int = 64) -> int:
    """Bit-vote simhash over per-token xxhash64 (token multiplicity counts);
    vote > 0 sets the bit; returns signed int64."""
    votes = [0] * bits
    for t in toks:
        h = xxhash64(t) & ((1 << 64) - 1)
        for b in range(bits):
            votes[b] += 1 if (h >> b) & 1 else -1
    fp = 0
    for b in range(bits):
        if votes[b] > 0:
            fp += -(1 << 63) if b == 63 else (1 << b)
    return fp


def minhash_signature(shingle_set: set[int], num_hashes: int = 64) -> list[int]:
    return [
        min(xxhash64(("long", s), ("int", k)) for s in shingle_set)
        for k in range(num_hashes)
    ]


def minhash_lsh_pairs_py(
    docs: list[tuple[int, set[int]]],
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> list[tuple[int, int, float]]:
    """Banded-LSH candidates + exact-Jaccard verify, mirroring the operator's
    definition: band bucket = xxhash64 of the comma-joined signature slice."""
    rows = num_hashes // bands
    sigs = {doc_id: minhash_signature(sh, num_hashes) for doc_id, sh in docs}
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, sig in sigs.items():
        for bi in range(bands):
            key = xxhash64(",".join(str(sig[bi * rows + ri]) for ri in range(rows)))
            buckets.setdefault((bi, key), []).append(doc_id)
    cand: set[tuple[int, int]] = set()
    for members in buckets.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                cand.add((members[i], members[j]))
    sh_by = dict(docs)
    out = []
    for a, b in sorted(cand):
        sa, sb = sh_by[a], sh_by[b]
        inter = len(sa & sb)
        if inter == 0:
            continue
        j = inter / (len(sa) + len(sb) - inter)
        if j >= threshold:
            out.append((a, b, _jvm_round(j, 6)))
    return out


def build_expected_text(
    documents_path: str | Path,
    out_dir: str | Path,
    ngram: int = 3,
    minhash_threshold: float = 0.5,
    fingerprint_window: int = 4,
    sample_rate_permille: int = 100,
    sample_per_stratum: int = 50,
) -> None:
    t = pq.read_table(
        documents_path, columns=["doc_id", "text", "lang", "n_chars"]
    )
    doc_ids = t["doc_id"].to_pylist()
    texts = t["text"].to_pylist()
    langs = t["lang"].to_pylist()
    n_chars = t["n_chars"].to_pylist()
    toks_by = [spark_tokens(s) for s in texts]

    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)

    # simhash fingerprints
    sims = [simhash_of(toks) for toks in toks_by]
    pq.write_table(
        pa.table({"doc_id": doc_ids, "simhash": pa.array(sims, pa.int64())}),
        out_dir / "simhash.parquet",
    )

    # minhash-LSH verified pairs
    docs = [(did, _shingle_set(toks, ngram)) for did, toks in zip(doc_ids, toks_by)]
    pairs = minhash_lsh_pairs_py(docs, threshold=minhash_threshold)
    pq.write_table(
        pa.table(
            {
                "id_a": pa.array([p[0] for p in pairs], pa.int64()),
                "id_b": pa.array([p[1] for p in pairs], pa.int64()),
                "jaccard": pa.array([p[2] for p in pairs], pa.float64()),
            }
        ),
        out_dir / "minhash_pairs.parquet",
    )

    # deterministic samples (hash-rate + per-stratum quota), re-derived from
    # the same xxhash64 contract the Spark operators use
    id_hash = {did: xxhash64(did) for did in doc_ids}
    keep = [
        (did, lg, nc)
        for did, lg, nc in zip(doc_ids, langs, n_chars)
        if id_hash[did] % 1000 < sample_rate_permille  # python % == Spark pmod
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([k[0] for k in keep], pa.int64()),
                "lang": pa.array([k[1] for k in keep], pa.string()),
                "n_chars": pa.array([k[2] for k in keep], pa.int64()),
            }
        ),
        out_dir / "sample_hash.parquet",
    )
    by_lang: dict[str, list[int]] = {}
    for did, lg in zip(doc_ids, langs):
        by_lang.setdefault(lg, []).append(did)
    s_ids, s_strata, s_ranks = [], [], []
    for lg in by_lang:
        ordered = sorted(by_lang[lg], key=lambda d: (id_hash[d], d))
        for rank, did in enumerate(ordered[:sample_per_stratum], start=1):
            s_ids.append(did)
            s_strata.append(lg)
            s_ranks.append(rank)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(s_ids, pa.int64()),
                "stratum": pa.array(s_strata, pa.string()),
                "sample_rank": pa.array(s_ranks, pa.int64()),
            }
        ),
        out_dir / "sample_stratified.parquet",
    )

    # near-dup clusters: independent union-find over the minhash pairs
    # (the Spark side uses large-star/small-star contraction instead)
    parent = {did: did for did in doc_ids}

    def _find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _j in pairs:
        ra, rb = _find(a), _find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for did in doc_ids:
        r = _find(did)
        comp_min[r] = min(comp_min.get(r, did), did)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(doc_ids, pa.int64()),
                "cluster_id": pa.array(
                    [comp_min[_find(d)] for d in doc_ids], pa.int64()
                ),
            }
        ),
        out_dir / "dedup_clusters.parquet",
    )

    # rolling-window fingerprint
    text_hashes = [xxhash64(s) for s in texts]
    win_hashes = []
    for toks in toks_by:
        if len(toks) >= fingerprint_window:
            win_hashes.append(
                min(
                    xxhash64(" ".join(toks[i : i + fingerprint_window]))
                    for i in range(len(toks) - fingerprint_window + 1)
                )
            )
        else:
            win_hashes.append(xxhash64(" ".join(toks)))
    pq.write_table(
        pa.table(
            {
                "doc_id": doc_ids,
                "text_hash": pa.array(text_hashes, pa.int64()),
                "min_window_hash": pa.array(win_hashes, pa.int64()),
            }
        ),
        out_dir / "fingerprint.parquet",
    )
