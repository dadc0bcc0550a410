"""Seeded input generation: a clustered corpus, query batches and CDC
change batches. Everything is a pure function of the seed (and the
batch or round index), so the same ``--seed`` always yields the same
inputs and the engine only ever receives these arrays.
"""

from __future__ import annotations

import numpy as np

DIM = 64
N_CLUSTERS = 32
CENTER_SCALE = 1.0
SPREAD = 0.35


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def fp16_rows(x: np.ndarray) -> np.ndarray:
    """float32 → nearest float16 → float32, the value space of the
    refinement layout's ``full`` column."""
    return np.asarray(x, dtype=np.float32).astype(np.float16).astype(np.float32)


def _centers(seed: int) -> np.ndarray:
    return (_rng(seed, 0).standard_normal((N_CLUSTERS, DIM)) * CENTER_SCALE).astype(np.float32)


def _draw(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    which = rng.integers(0, len(centers), n)
    return (centers[which] + rng.standard_normal((n, DIM)) * SPREAD).astype(np.float32)


def corpus(seed: int, n: int) -> np.ndarray:
    """(n, DIM) float32 rows drawn around ``N_CLUSTERS`` seeded centres.
    Rows stay pairwise distinct after fp16 rounding: a duplicate would
    tie two ids at the same distance and make the oracle's id order
    arbitrary, so duplicates are redrawn until none is left."""
    rng = _rng(seed, 1)
    centers = _centers(seed)
    x = _draw(rng, centers, n)
    while True:
        _, first = np.unique(fp16_rows(x), axis=0, return_index=True)
        if len(first) == n:
            return x
        dup = np.setdiff1d(np.arange(n), first)
        x[dup] = _draw(rng, centers, len(dup))


def queries(seed: int, batch: int, size: int) -> tuple[np.ndarray, np.ndarray]:
    """(query ids, (size, DIM) float32) for query batch ``batch``; ids
    are unique across batches."""
    rng = _rng(seed, 2, batch)
    ids = np.arange(batch * size, (batch + 1) * size, dtype=np.int64)
    return ids, _draw(rng, _centers(seed), size)


class ChangeStream:
    """CDC change batches over a base corpus of ``n_base`` ids.

    Round r is one change batch at ``seq`` 2r−1: ``n_new`` upserts of
    fresh ids, ``n_reembed`` upserts of live ids with new vectors,
    ``n_delete`` deletes of live ids, and ``n_tie`` live ids that get
    both an upsert and a delete at the same ``seq`` (the delete wins).
    A quarter of the re-embedded ids are upserted once more at ``seq``
    2r, which must win. ``reset()`` starts again from the bare base
    corpus; fresh ids keep counting up, so no id is ever reused."""

    def __init__(self, seed: int, n_base: int, n_new: int, n_reembed: int,
                 n_delete: int, n_tie: int):
        self.seed = seed
        self.n_base = n_base
        self.sizes = (n_new, n_reembed, n_delete, n_tie)
        self.next_id = n_base
        self.round = 0
        self.reset()

    def reset(self) -> None:
        self.live = set(range(self.n_base))

    def next_batch(self) -> dict[str, np.ndarray]:
        """{"vec_id", "embedding" (None for deletes), "op", "seq"} as
        parallel arrays, one row per change."""
        n_new, n_re, n_del, n_tie = self.sizes
        self.round += 1
        rng = _rng(self.seed, 3, self.round)
        centers = _centers(self.seed)
        live = np.fromiter(sorted(self.live), dtype=np.int64)
        picked = rng.choice(live, n_re + n_del + n_tie, replace=False)
        re_ids = picked[:n_re]
        del_ids = picked[n_re:n_re + n_del]
        tie_ids = picked[n_re + n_del:]
        new_ids = np.arange(self.next_id, self.next_id + n_new, dtype=np.int64)
        self.next_id += n_new
        again_ids = re_ids[: n_re // 4]
        up_ids = np.concatenate([new_ids, re_ids, tie_ids, again_ids])
        up_vecs = _draw(rng, centers, len(up_ids))
        gone = np.concatenate([del_ids, tie_ids])
        self.live.update(new_ids.tolist())
        self.live.difference_update(gone.tolist())
        ids = np.concatenate([up_ids, gone])
        seq = np.full(len(ids), 2 * self.round - 1, dtype=np.int64)
        seq[len(up_ids) - len(again_ids):len(up_ids)] += 1
        return {
            "vec_id": ids,
            "embedding": list(up_vecs) + [None] * len(gone),
            "op": np.array(["upsert"] * len(up_ids) + ["delete"] * len(gone)),
            "seq": seq,
        }
