"""Generate a CLUSTERED unit-sphere embeddings dir for ANN recall work.

Usage: python tools/make_clustered_emb_dir.py [dst] [n] [clusters] [sigma]
       (defaults: ./data_embclust  300000  512  0.08)

Why this exists (round-6 verdict #1): every recall number shipped so far
was measured on ``data_emb300k``, whose sign-flip scaling produces a
NEAR-UNIFORM corpus — exact top-5 cosine margins of ~0.005-0.01, the
known-degenerate worst case where any compressed code loses (recall
plateaued at 0.12 from k_codes 64 -> 256 because code error >> margin,
while flat IVF scored 1.0). Real text/image embedding corpora are
CLUSTERED: neighbors share a mode and margins are 10-100x wider. This
generator produces that shape, so the measured IVFPQ operating points
transfer to production corpora instead of to an adversarial one.

Model: mixture of von-Mises-Fisher-like bumps on the unit sphere —
``C`` unit centers ~ normalized N(0, I_64); cluster sizes Zipf-weighted
(real corpora are imbalanced); x = normalize(center + sigma * N(0, I)).
On top of the cluster bulk, a ``p_dup`` fraction of points are NEAR-DUP
family members: point i is normalize(x_parent + sigma_dup * N(0, I))
for a uniformly chosen parent < i (chains allowed — dups of dups form
families, exactly the SemDeDup shape). Web-scale corpora have both
structures, and the near-dup families are what retrieval/dedup top-k
actually has to find: family members sit at cos ~0.95+ while the
cluster bulk packs at ~0.8 with sub-0.001 spacing. The companion recall
tool publishes the measured margin histogram, so how hard the corpus is
at each rank is an artifact, not an assumption.

Everything derives from ONE seeded numpy Generator in a fixed draw
order, so the corpus is bit-reproducible ON A GIVEN NUMPY VERSION —
numpy only guarantees Generator stream stability within a version
(NEP 19): a corpus regenerated under another numpy version may differ,
unlike the weather dirs (md5/Spark-expression derived, engine-stable).
The ``data_embclust`` behind the recorded measurements is in the git
history (last present at commit 6e256a2), not in the tree. Vectors are float32 and unit-norm,
schema-identical to the driver's embeddings.parquet
(vec_id int64, embedding list<float>, label int32 = cluster id — the
label doubles as ground truth for cluster-structure sanity checks;
dup family members inherit the parent's label).

Driver-side numpy by design: 300k x 64 float32 is ~77 MB — a test
asset, not a distributed workload (same stance as the reference's
fixture loaders, scripts/load_postal_codes_berlin.py:19-47).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20260815


def clustered_embeddings(
    n: int, n_clusters: int, sigma: float, dim: int = 64,
    seed: int = SEED, p_dup: float = 0.25, sigma_dup: float = 0.03,
) -> tuple[np.ndarray, np.ndarray]:
    """(vectors float32 [n, dim] unit-norm, labels int32 [n])."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    # Zipf-ish imbalance: w_c ∝ 1/(c+1)^0.7 — big head clusters plus a
    # long tail, the shape dedup/ANN sees on web corpora
    w = 1.0 / np.arange(1, n_clusters + 1) ** 0.7
    labels = rng.choice(n_clusters, size=n, p=w / w.sum()).astype(np.int32)
    x = centers[labels] + sigma * rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    # near-dup families: rewrite a p_dup fraction of points (id order, so
    # chains resolve — a dup of a dup lands in the same family) as small
    # perturbations of a uniformly chosen earlier point
    is_dup = rng.random(n) < p_dup
    is_dup[0] = False
    parents = (rng.random(n) * np.arange(n)).astype(np.int64)
    noise = sigma_dup * rng.standard_normal((n, dim))
    for i in np.flatnonzero(is_dup):
        v = x[parents[i]] + noise[i]
        x[i] = v / np.linalg.norm(v)
        labels[i] = labels[parents[i]]
    return x.astype(np.float32), labels


def write_dir(dst: str, n: int, n_clusters: int, sigma: float) -> str:
    x, labels = clustered_embeddings(n, n_clusters, sigma)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(x.reshape(-1), type=pa.float32()), x.shape[1]
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )
    os.makedirs(dst, exist_ok=True)
    out = os.path.join(dst, "embeddings.parquet")
    pq.write_table(tbl, out, row_group_size=50_000)
    return out


def main() -> None:
    dst = sys.argv[1] if len(sys.argv) > 1 else "data_embclust"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 300_000
    n_clusters = int(sys.argv[3]) if len(sys.argv) > 3 else 512
    sigma = float(sys.argv[4]) if len(sys.argv) > 4 else 0.08
    out = write_dir(dst, n, n_clusters, sigma)
    print(f"clustered embeddings: n={n} C={n_clusters} sigma={sigma} "
          f"-> {out}")


if __name__ == "__main__":
    main()
