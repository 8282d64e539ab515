"""Replay of crawl_full's distinct verify text pairs through the kernel's
two routes, in-process, split as ``verify_pairs`` splits them: groups of
one left text with fewer than eight right texts go through
``score_pair_batch`` in one call; larger groups compile a model of their
right texts and score the left text against it. The large groups are also
scored through ``score_pair_batch``, so the two routes are compared on
the same pairs.

The split is an approximation of the program's: ``verify_pairs`` groups
the distinct pairs of each coalesced partition, while the replay groups
those of the whole corpus, so a group that a partition boundary splits in
the program is whole here."""

from __future__ import annotations

import time

import pandas as pd

from batch_jaro_winkler_spark.kernel import build_model, score, score_pair_batch

# the group size at which verify_pairs switches to a model; a local
# constant there (``batch_cutover``), so it is repeated here
CUTOVER = 8


def _pair_batch_us(pairs: pd.DataFrame, cfg) -> float:
    t0 = time.perf_counter()
    score_pair_batch(
        pairs["text_a"].tolist(),
        pairs["text_b"].tolist(),
        weight=cfg.jw_weight,
        threshold=cfg.jw_threshold,
    )
    return (time.perf_counter() - t0) / len(pairs) * 1e6


def verify_routes(pairs: pd.DataFrame, cfg) -> dict[str, float]:
    """``pairs``: distinct (text_a, text_b) → µs per pair on each route."""
    pairs = pairs.dropna()
    size = pairs.groupby("text_a", sort=False)["text_b"].transform("size")
    small, large = pairs[size < CUTOVER], pairs[size >= CUTOVER]
    out = {}
    if len(small):
        out["kernel.pair_batch_us"] = _pair_batch_us(small, cfg)
    if len(large):
        t0 = time.perf_counter()
        for text_a, grp in large.groupby("text_a", sort=False):
            model = build_model(grp["text_b"].tolist())
            score(
                model,
                text_a,
                min_score=cfg.jw_min_score,
                weight=cfg.jw_weight,
                threshold=cfg.jw_threshold,
            )
        out["kernel.model_route_us"] = (time.perf_counter() - t0) / len(large) * 1e6
        out["kernel.large_pair_batch_us"] = _pair_batch_us(large, cfg)
    return out
