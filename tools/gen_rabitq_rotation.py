"""Generate the FROZEN RaBitQ random rotation (Gao & Long, SIGMOD 2024:
a random orthogonal rotation decorrelates coordinates so 1-bit sign
codes carry near-uniform per-dim information, and the per-vector
scalar <x̂, sign(x̂)> turns the signed dot into an unbiased cosine
estimator). No training — one seeded Gaussian QR, canonicalized by
positive diagonal so the matrix is reproducible bit-for-bit. Writes
operators/rabitq_rotation_matrix.py (the frozen-literal idiom of
tools/train_opq_rotation.py).

Usage: python tools/gen_rabitq_rotation.py
"""
import os

import numpy as np

D = 64
SEED = 4202

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark",
    "operators",
    "rabitq_rotation_matrix.py",
)


def main() -> None:
    g = np.random.default_rng(SEED).standard_normal((D, D))
    q, r = np.linalg.qr(g)
    q = q * np.sign(np.diag(r))  # canonical: R's diagonal positive

    rows = ",\n".join(
        "    (" + ", ".join(repr(float(v)) for v in row) + ")" for row in q
    )
    with open(OUT, "w") as f:
        f.write(
            '"""FROZEN RaBitQ rotation -- generated by tools/gen_rabitq_rotation.py; '
            "do not edit by hand.\n\n"
            f"Seeded Gaussian QR (seed {SEED}, {D}x{D}), diagonal-canonicalized "
            "(no training, no data).\n"
            'Row-major: rotated[p] = dot(RABITQ_ROTATION[p], x)."""\n\n'
            "RABITQ_ROTATION = (\n" + rows + ",\n)\n"
        )
    # orthogonality check
    err = np.abs(q @ q.T - np.eye(D)).max()
    print("written; max |QQ^T - I| =", err)


if __name__ == "__main__":
    main()
