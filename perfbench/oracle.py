"""NumPy brute-force oracles for the three serve paths and the check
that compares an engine result with them.

Scores are computed in float64. A returned list is correct when its
scores equal the oracle's K best scores within ``REL_TOL`` and every
returned id really has the score the engine reports; the id sets then
match unless two corpus rows sit at the same distance, which the
generator rules out for the fp16 value space.
"""

from __future__ import annotations

import numpy as np

REL_TOL = 1e-9


def l2_scores(q: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(nq, nc) squared L2 distances in float64."""
    q = q.astype(np.float64)
    c = c.astype(np.float64)
    return ((q[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)


def cosine_scores(q: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(nq, nc) cosine similarities in float64 (norm floor 1e-12, as
    the engine's ``cosine``)."""
    q = q.astype(np.float64)
    c = c.astype(np.float64)
    qn = np.maximum(np.linalg.norm(q, axis=1), 1e-12)
    cn = np.maximum(np.linalg.norm(c, axis=1), 1e-12)
    return (q @ c.T) / qn[:, None] / cn[None, :]


def topk(scores: np.ndarray, ids: np.ndarray, k: int, ascending: bool):
    """Per-row top-k ids and scores, ties broken by id ascending."""
    key = scores if ascending else -scores
    out_ids, out_scores = [], []
    for row, s in zip(key, scores):
        order = np.lexsort((ids, row))[:k]
        out_ids.append(ids[order])
        out_scores.append(s[order])
    return np.array(out_ids), np.array(out_scores)


def check_batch(got: dict, q_ids: np.ndarray, scores: np.ndarray,
                c_ids: np.ndarray, k: int, ascending: bool) -> tuple[bool, int]:
    """Compare one served batch with the oracle.

    ``got`` maps query id → list of (rank, neighbor_id, score) rows.
    ``scores`` is the oracle's (nq, nc) score matrix over ``c_ids``.
    Returns (correct, number of returned ids that are in the oracle's
    top-k)."""
    want_ids, want_scores = topk(scores, c_ids, k, ascending)
    col = {int(v): j for j, v in enumerate(c_ids)}
    ok, hits = True, 0
    for i, qid in enumerate(q_ids):
        rows = sorted(got.get(int(qid), []))
        if len(rows) != min(k, len(c_ids)) or [r[0] for r in rows] != list(range(1, len(rows) + 1)):
            ok = False
            continue
        ids = [int(r[1]) for r in rows]
        eng = np.array([r[2] for r in rows], dtype=np.float64)
        hits += len(set(ids) & set(want_ids[i].tolist()))
        if len(set(ids)) != len(ids) or any(n not in col for n in ids):
            ok = False
            continue
        true = scores[i, [col[n] for n in ids]]
        tol = REL_TOL * np.maximum(1.0, np.abs(want_scores[i]))
        if not (np.all(np.abs(true - eng) <= tol) and np.all(np.abs(eng - want_scores[i]) <= tol)):
            ok = False
    return ok, hits


def apply_changes(live: dict[int, np.ndarray], batch: dict) -> None:
    """Apply one CDC batch to ``live`` (id → vector) with last-wins on
    ``seq``; at equal ``seq`` a delete beats an upsert."""
    rows = sorted(
        range(len(batch["vec_id"])),
        key=lambda j: (int(batch["seq"][j]), batch["op"][j] == "delete"),
    )
    for j in rows:
        vid = int(batch["vec_id"][j])
        if batch["op"][j] == "delete":
            live.pop(vid, None)
        else:
            live[vid] = np.asarray(batch["embedding"][j], dtype=np.float32)
