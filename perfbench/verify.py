"""Output verification against the generators' expectations.

Each check returns a list of failure strings; an empty list means the
output is correct. The checks read the engine's output through the
package's own HDF5 reader (``h5py`` when installed, else the built-in
``sinks.hdf5lib``).
"""

from __future__ import annotations

import math

import numpy as np

INSTRUMENT = "/entry/instrument"


def _h5():
    try:
        import h5py
        return h5py
    except ImportError:
        from kafka_to_nexus_spark.sinks import hdf5lib
        return hdf5lib


def nexus_file(path: str, exp: dict, error_count: int) -> list[str]:
    """A closed NeXus file from the file-writer workload: every f144 log
    (as-of row, in-window rows, repeats dropped) and its min/max/mean,
    every al00/ep01 side stream, every ev44 bank's pulse and event totals
    with a monotone event_index, and the D2 error counter."""
    bad: list[str] = []
    if error_count != exp["corrupt"]:
        bad.append(f"flatbuffer_errors {error_count} != planted {exp['corrupt']}")
    with _h5().File(path, "r") as f:
        for src, e in exp["f144"].items():
            g = f"{INSTRUMENT}/{src}"
            t, v = f[f"{g}/time"][:], f[f"{g}/value"][:]
            want_t = [x for x, _ in e["log"]]
            want_v = [x for _, x in e["log"]]
            if len(t) != len(want_t):
                bad.append(f"{src}: {len(t)} log rows, want {len(want_t)}")
                continue
            dt = np.abs(np.asarray(t, dtype=np.int64) - np.asarray(want_t, dtype=np.int64))
            if dt.any():
                bad.append(f"{src}: {int((dt > 0).sum())} time values differ from the "
                           f"generated ns timestamps (max |diff| {int(dt.max())} ns)")
            if not np.allclose(v, want_v, rtol=0, atol=1e-9):
                bad.append(f"{src}: log values differ")
            for name, key in (("minimum_value", "min"), ("maximum_value", "max"),
                              ("average_value", "mean")):
                got = float(f[f"{g}/{name}"][()])
                if not math.isclose(got, e[key], rel_tol=1e-9):
                    bad.append(f"{src}: {name} {got} != {e[key]}")
        for schema, col in (("al00", "alarm_severity"), ("ep01", "connection_status")):
            for src, codes in exp[schema].items():
                got = [int(x) for x in f[f"{INSTRUMENT}/{src}/{col}"][:]]
                if got != codes:
                    bad.append(f"{src}: {col} {got} != {codes}")
        for src, e in exp["ev44"].items():
            g = f"{INSTRUMENT}/{src}"
            idx = np.asarray(f[f"{g}/event_index"][:])
            n_pulses = len(f[f"{g}/event_time_zero"][:])
            n_events = len(f[f"{g}/event_id"][:])
            if n_pulses != e["pulses"] or n_events != e["events"]:
                bad.append(f"{src}: {n_pulses} pulses/{n_events} events, "
                           f"want {e['pulses']}/{e['events']}")
            if len(idx) and (idx[0] != 0 or np.any(np.diff(idx) < 0) or idx[-1] > n_events):
                bad.append(f"{src}: event_index not monotone from 0")
    return bad


def admission(decisions: dict[int, str], exp: dict) -> list[str]:
    """One decision per arrival, and every planted exact copy rejected as
    an exact duplicate."""
    bad: list[str] = []
    if len(decisions) != exp["arrivals"]:
        bad.append(f"{len(decisions)} decisions for {exp['arrivals']} arrivals")
    missed = [i for i in exp["exact_ids"] if decisions.get(i) != "exact_dup"]
    if missed:
        bad.append(f"{len(missed)} planted exact copies not rejected, e.g. {missed[:3]}")
    return bad


def recall(found: list[list[int]], exact: np.ndarray, floor: float) -> tuple[float, list[str]]:
    """Mean top-k overlap with the exact neighbours, and a failure when it
    falls below ``floor``."""
    k = exact.shape[1]
    r = float(np.mean([len(set(f) & set(e.tolist())) / k for f, e in zip(found, exact)]))
    return r, ([] if r >= floor else [f"recall@{k} {r:.3f} below floor {floor}"])
