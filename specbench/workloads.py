"""Workload definitions: input sizes, tables and the JSON specs each one serves.

A spec is ``Spec(id, table, steps)``: ``steps`` is the ViEWS queryset JSON
list submitted through ``registry.transform_json`` over the parquet table
``table``. ``month_append`` is the one spec that is a whole update cycle
(append a month, read the table back, run the feature chain, write the
features); it is run by ``run.py`` around the same ``transform_json`` call.

Operators that need a second frame (``splag_country``'s edges and
centroids) are reached through a step registered by the benchmark with
``registry.register``, which binds the generated side tables and forwards
to the library function unchanged; ``BOUND_STEPS`` names the library
operator behind each such step.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

from inputs import corpus_table, country_tables, pgm_table, table_digest, write

PANEL_SCHEMA = "time_id BIGINT, unit_id BIGINT, ged_sb DOUBLE"
STRIDE = {"stride": 720}

# (grid rows, grid cols, months) of the PRIO-GRID panels, countries x
# months of the country panel, corpus documents
SIZES = {
    "default": {"pgm": (24, 24, 96), "month_base": (16, 16, 60), "pg_small": (16, 16, 36),
                "cm": (40, 36), "corpus": 400},
    "tiny": {"pgm": (8, 8, 24), "month_base": (8, 8, 24), "pg_small": (8, 8, 12),
             "cm": (12, 12), "corpus": 80},
}


@dataclass(frozen=True)
class Spec:
    id: str
    table: str
    steps: tuple

    @property
    def json(self) -> str:
        return json.dumps(list(self.steps))


def _s(*steps: dict) -> tuple:
    return tuple(steps)


ZERO = {"type": "replace_na", "args": [0.0]}
EVENT = {"type": "greater_or_equal", "args": [1.0]}

PGM_LAZY = [
    Spec("tlag_ma_ln", "pgm", _s(ZERO, {"type": "tlag", "args": [1]},
                                 {"type": "moving_average", "args": [12]}, {"type": "ln"})),
    # time_since is cweq over the lagged event series
    Spec("time_since_decay", "pgm", _s(ZERO, EVENT, {"type": "time_since", "args": [0]},
                                       {"type": "decay", "args": [12.0]})),
    Spec("onset", "pgm", _s(ZERO, EVENT, {"type": "onset", "args": [12]})),
    Spec("entropy_delta", "pgm", _s(ZERO, {"type": "temporal_entropy", "args": [12], "kwargs": {"offset": 1.0}},
                                    {"type": "delta", "args": [1]})),
    Spec("splag4d_ln", "pgm", _s(ZERO, {"type": "splag4d", "args": [1, 1, 0, 0], "kwargs": STRIDE},
                                 {"type": "ln"})),
    Spec("extrapolate_ma", "pgm", _s({"type": "extrapolate", "args": ["both"]},
                                     {"type": "moving_average", "args": [3]})),
    Spec("month_append", "month", _s({"type": "densify"}, {"type": "time_since", "args": [0]},
                                     {"type": "decay", "args": [12.0]},
                                     {"type": "moving_average", "args": [3]},
                                     {"type": "splag4d", "args": [1, 1, 0, 0], "kwargs": STRIDE})),
]

GATED_OPS = [
    Spec("spatial_tree_lag", "pg_small", _s({"type": "spatial_tree_lag", "args": [0.9, 0], "kwargs": STRIDE})),
    Spec("grid_lag", "pg_small", _s({"type": "grid_lag", "args": [5.0, 0], "kwargs": STRIDE})),
    Spec("splag_country_weighted", "cm", _s({"type": "splag_country_edges",
                                             "kwargs": {"kernel_inner": 1, "kernel_width": 2,
                                                        "kernel_power": 1}})),
    Spec("spacetime_distances", "pg_small", _s({"type": "spacetime_distances", "args": ["distances"],
                                                "kwargs": {"k": 2, "nu": 1.0, **STRIDE}})),
    Spec("fourier_lag", "pg_small", _s({"type": "fourier_lag", "kwargs": STRIDE})),
    Spec("fuzzy_dedup_keep", "corpus", _s({"type": "fuzzy_dedup_keep",
                                           "kwargs": {"n": 3, "n_hashes": 24, "bands": 6,
                                                      "threshold": 0.8}})),
    Spec("exact_quantiles", "corpus", _s({"type": "with_expr", "args": ["n_chars", "length(text)"]},
                                         {"type": "exact_quantiles", "args": ["n_chars"],
                                          "kwargs": {"percents": [25, 50, 75, 90],
                                                     "group_cols": ["source"]}})),
]

WORKLOADS = {"pgm_lazy": PGM_LAZY, "gated_ops": GATED_OPS}

# benchmark-registered step -> library operator it forwards to
BOUND_STEPS = {"splag_country_edges": "splag_country"}


def step_types() -> list[str]:
    """Every registry step type any workload submits, by library name."""
    names = {BOUND_STEPS.get(s["type"], s["type"]) for w in WORKLOADS.values() for sp in w for s in sp.steps}
    return sorted(names)


def spec_order(workload: str, seed: int) -> list[Spec]:
    """The workload's specs in the fixed order one seed cycles through."""
    specs = WORKLOADS[workload]
    perm = np.random.default_rng([seed, 101]).permutation(len(specs))
    return [specs[i] for i in perm]


def make_inputs(workload: str, seed: int, scale: str, root: str) -> tuple[dict[str, str], str]:
    """Write the workload's tables under ``root``; return their paths and
    the digest of everything generated."""
    size = SIZES[scale]
    tables: dict = {}
    paths: dict[str, str] = {}
    if workload == "pgm_lazy":
        r, c, t = size["pgm"]
        tables["pgm"] = pgm_table(seed, r, c, np.arange(1, t + 1))
        r, c, m = size["month_base"]
        month = paths["month"] = f"{root}/month_table"
        for i in range(1, m + 1):
            part = pgm_table(seed, r, c, np.array([i])).drop(["time_id"])
            tables[f"month_{i:04d}"] = part
            write(part, f"{month}/time_id={i}/part-0.parquet")
        tables["month_new"] = pgm_table(seed, r, c, np.array([m + 1]))
        paths["month_base_months"] = str(m)
    else:
        r, c, t = size["pg_small"]
        tables["pg_small"] = pgm_table(seed, r, c, np.arange(1, t + 1), nulls=False)
        n, t = size["cm"]
        tables.update(country_tables(seed, n, t))
        tables["corpus"] = corpus_table(seed, size["corpus"])
    for name, tab in tables.items():
        if not name.startswith("month_") or name == "month_new":
            paths[name] = write(tab, f"{root}/{name}.parquet")
    return paths, table_digest(tables)
