"""Seeded input generator for the spec-serving benchmark.

Every table is a pure function of ``(seed, sizes)``: numpy's PCG64 stream
feeds the values and pyarrow writes the parquet files, so no Spark job
runs while inputs are made and the program under test only ever sees the
files. ``table_digest`` hashes the generated columns, which is how the
smoke test checks that one seed repeats and another seed differs.

Tables (all keys BIGINT, features DOUBLE):

- ``pgm``: PRIO-GRID-month panel. ``unit_id`` is a pgid on the global 0.5
  degree grid (``row * 720 + col + 1``); ``ged_sb`` is a zero-inflated,
  spatially clustered count (Poisson over a few Gaussian hot spots whose
  intensity drifts month to month), with a small share of NULLs.
- ``cm`` / ``cm_edges`` / ``cm_centroids``: country-month panel, a
  symmetric no-self-loop adjacency per month (k nearest centroids, a few
  edges absent in early months) and the centroid table.
- ``corpus``: short documents with planted near-duplicate clusters.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PG_STRIDE = 720
# top-left corner of the generated block of PRIO-GRID cells (central Africa)
ROW0, COL0 = 180, 380
NULL_SHARE = 0.02
ACTIVE_SHARE = 0.15

_WORDS = [
    "conflict", "state", "based", "fatalities", "border", "province", "rebel",
    "militia", "forces", "clash", "district", "village", "protest", "army",
    "attack", "ceasefire", "peace", "talks", "election", "unrest", "refugees",
    "camp", "aid", "convoy", "road", "river", "market", "drought", "harvest",
    "police", "arrest", "curfew", "mining", "gold", "cattle", "raid", "youth",
    "report", "monitor", "mission", "violence", "calm", "week", "month",
]


def pgid(rows: np.ndarray, cols: np.ndarray) -> np.ndarray:
    return (ROW0 + rows) * PG_STRIDE + (COL0 + cols) + 1


def _clustered_counts(seed: int, n_rows: int, n_cols: int, months: np.ndarray) -> np.ndarray:
    """(len(months), n_rows * n_cols) zero-inflated counts around hot spots.

    The intensity field is normalised to mean 1 every month, so the share
    of active cells (about ``ACTIVE_SHARE``) and the event count barely move
    between seeds: a seed changes where events are, not how many."""
    rng = np.random.default_rng([seed, n_rows, n_cols])
    r, c = np.meshgrid(np.arange(n_rows), np.arange(n_cols), indexing="ij")
    n_spots = max(6, (n_rows * n_cols) // 64)
    cy = rng.uniform(0, n_rows, n_spots)
    cx = rng.uniform(0, n_cols, n_spots)
    rad = rng.uniform(1.5, 3.0, n_spots)
    amp = rng.uniform(0.8, 1.2, n_spots)
    phase = rng.uniform(0, 2 * np.pi, n_spots)
    out = np.empty((len(months), n_rows * n_cols))
    for i, m in enumerate(months):
        # the month index (not the row position) drives the drift, so an
        # appended month is the same whether made alone or with the base
        m_rng = np.random.default_rng([seed, n_rows, n_cols, int(m)])
        season = 0.6 + 0.4 * np.sin(phase + m / 6.0)
        field = np.zeros((n_rows, n_cols))
        for k in range(n_spots):
            field += amp[k] * season[k] * np.exp(-((r - cy[k]) ** 2 + (c - cx[k]) ** 2) / (2 * rad[k] ** 2))
        field /= field.mean()
        active = m_rng.random(field.shape) < np.clip(ACTIVE_SHARE * field, 0, 0.9)
        out[i] = ((m_rng.poisson(2.0 * field) + 1) * active).ravel()
    return out


def pgm_table(seed: int, n_rows: int, n_cols: int, months: np.ndarray, nulls: bool = True) -> pa.Table:
    counts = _clustered_counts(seed, n_rows, n_cols, months)
    cells = pgid(*[a.ravel() for a in np.meshgrid(np.arange(n_rows), np.arange(n_cols), indexing="ij")])
    t = np.repeat(months.astype(np.int64), cells.size)
    u = np.tile(cells.astype(np.int64), len(months))
    v = counts.ravel()
    mask = None
    if nulls:
        null_rng = np.random.default_rng([seed, 7, int(months[0]), len(months)])
        mask = null_rng.random(v.size) < NULL_SHARE
    return pa.table({
        "time_id": pa.array(t),
        "unit_id": pa.array(u),
        "ged_sb": pa.array(v, mask=mask),
    })


def country_tables(seed: int, n_countries: int, n_months: int, k: int = 3) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 11, n_countries])
    lat = rng.uniform(-30, 30, n_countries)
    lon = rng.uniform(-15, 45, n_countries)
    ids = np.arange(1, n_countries + 1, dtype=np.int64)
    d = np.hypot(lat[:, None] - lat[None, :], lon[:, None] - lon[None, :])
    np.fill_diagonal(d, np.inf)
    nn = np.argsort(d, axis=1)[:, :k]
    pairs = {(min(a, b), max(a, b)) for a in range(n_countries) for b in nn[a]}
    pairs = sorted(pairs)
    # a seeded fifth of the edges only exist from mid-panel on (border changes)
    late = rng.random(len(pairs)) < 0.2
    ea, eb, em = [], [], []
    for m in range(1, n_months + 1):
        for (a, b), is_late in zip(pairs, late):
            if is_late and m <= n_months // 2:
                continue
            ea += [ids[a], ids[b]]
            eb += [ids[b], ids[a]]
            em += [m, m]
    base = rng.gamma(0.5, 4.0, n_countries)
    t = np.repeat(np.arange(1, n_months + 1, dtype=np.int64), n_countries)
    u = np.tile(ids, n_months)
    v = rng.poisson(np.tile(base, n_months) * (rng.random(t.size) < 0.4)).astype(float)
    return {
        "cm": pa.table({"time_id": t, "unit_id": u, "ged_sb": v}),
        "cm_edges": pa.table({
            "month_id": pa.array(em, pa.int64()),
            "a_id": pa.array(ea, pa.int64()),
            "b_id": pa.array(eb, pa.int64()),
        }),
        "cm_centroids": pa.table({"country_id": ids, "lat": lat, "lon": lon}),
    }


def corpus_table(seed: int, n_docs: int, cluster_share: float = 0.25) -> pa.Table:
    """Documents of 20-40 words; ``cluster_share`` of them are near copies
    (one or two words swapped) of a seeded earlier document."""
    rng = np.random.default_rng([seed, 13, n_docs])
    texts: list[str] = []
    for _ in range(n_docs):
        if texts and rng.random() < cluster_share:
            words = texts[int(rng.integers(0, len(texts)))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(20, 41)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(1, n_docs + 1, dtype=np.int64),
        "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 4, n_docs)]),
        "text": pa.array(texts),
    })


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def table_digest(tables: dict[str, pa.Table]) -> str:
    """sha256 over the Arrow IPC bytes of every table, in name order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()
