"""kernel_ref: the reference benchmark protocol in-process, without Spark.
One operation is a pass over all six axes: {en, cjk} x {min09, min00,
nbest10}, 100 queries each against the whole word list."""

from __future__ import annotations

import random
import statistics
import time

import checks
import inputs
from batch_jaro_winkler_spark.kernel import build_model, score

MODES = {
    "min09": dict(min_score=0.9, weight=None, threshold=None),
    "min00": dict(min_score=0.0, weight=None, threshold=None),
    "nbest10": dict(n_best=10, weight=None, threshold=None),
}
SETUPS = 3  # set-up is repeated and its median reported
SAMPLED_QUERIES = 3


def setup(seed: int, spec: dict):
    t0 = time.perf_counter()
    lists = inputs.word_lists(seed, spec)
    c0 = time.perf_counter()
    models = [build_model(wl.words) for wl in lists]
    end = time.perf_counter()
    return lists, models, end - t0, end - c0


def one_pass(lists, models, sampled: dict) -> tuple[dict, dict]:
    """→ (per-axis seconds, per-list results kept for the checks). Only the
    sampled queries keep their full result arrays."""
    secs, kept, query_s = {}, {}, []
    for wl, model in zip(lists, models):
        res = {"min00_len": []}
        for mode, kw in MODES.items():
            res[mode] = {}
            t0 = time.perf_counter()
            for qi, q in enumerate(wl.queries):
                q0 = time.perf_counter()
                idx, sc = score(model, q, **kw)
                query_s.append(time.perf_counter() - q0)
                if mode == "min00":
                    res["min00_len"].append(len(idx))
                if qi in sampled[wl.name]:
                    res[mode][qi] = (idx, sc)
            secs[f"{wl.name}.{mode}"] = time.perf_counter() - t0
        kept[wl.name] = res
    return secs, {"results": kept, "query_s": query_s}


def run(args, measure) -> dict:
    spec = inputs.SMALL_KERNEL if args.small else inputs.KERNEL
    times = []
    for _ in range(1 if args.small else SETUPS):
        lists = models = None  # one set of models in memory at a time
        lists, models, total_s, compile_s = setup(args.seed, spec)
        times.append((total_s, compile_s))
    measure.setup_done(statistics.median(t for t, _ in times))
    rng = random.Random(args.seed)
    sampled = {
        wl.name: set(rng.sample(range(len(wl.queries)), SAMPLED_QUERIES)) for wl in lists
    }
    axis_secs: list[dict] = []
    query_s: list[float] = []
    text_bytes = sum(wl.n_bytes * len(wl.queries) for wl in lists) * len(MODES)
    while measure.want_round():
        with measure.op("pass", text_bytes) as op:
            secs, kept = one_pass(lists, models, sampled)
        if op.failed:
            continue
        errs = []
        for wl in lists:
            errs += checks.kernel_pass(wl, kept["results"][wl.name], rng)
        op.verdict(errs)
        if not op.cold:
            axis_secs.append(secs)
            query_s.extend(kept["query_s"])
    layers = {"kernel.compile_s": statistics.median(c for _, c in times)}
    for wl in lists:
        for mode in MODES:
            key = f"{wl.name}.{mode}"
            sec = statistics.median(s[key] for s in axis_secs) if axis_secs else 0.0
            layers[f"kernel.{key}_mb_per_s"] = (
                wl.n_bytes * len(wl.queries) / sec / 1e6 if sec else 0.0
            )
    if query_s:
        layers["kernel.query_p50_ms"] = statistics.median(query_s) * 1e3
        layers["kernel.query_tail_ms"] = tail(query_s) * 1e3
    return layers


def tail(samples: list[float]) -> float:
    """The highest of p90/p99/p99.9 with at least ten samples beyond it."""
    s = sorted(samples)
    best = s[len(s) // 2]
    for p in (0.9, 0.99, 0.999):
        if len(s) * (1 - p) >= 10:
            best = s[min(len(s) - 1, int(len(s) * p))]
    return best
