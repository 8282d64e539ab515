"""Output checks made apart from the program: ground truth from the
generator, the textbook Jaro-Winkler oracle, and properties the method
must have. Each check returns a list of failure messages (empty = pass)."""

from __future__ import annotations

import math
import random
import re

from batch_jaro_winkler_spark.kernel.oracle import jaro, jaro_winkler

_NON_WORD = re.compile("[^a-z0-9À-ɏ一-鿿]+")

# float32 kernel scores against the float64 oracle
SCORE_TOL = 1e-4


def normalize(text: str) -> str:
    """Lowercase, runs of non-word characters to one space, trimmed."""
    return _NON_WORD.sub(" ", text.lower()).strip()


def components(nodes, edges) -> dict[int, int]:
    """Union-find: node -> minimum node of its connected component."""
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def once(ids, rows) -> list[str]:
    """The assignment rows (doc_id, cluster_id) name every document once."""
    docs = [d for d, _ in rows]
    if len(docs) != len(set(docs)):
        return [f"{len(docs) - len(set(docs))} documents assigned more than once"]
    if set(docs) != set(ids):
        return [f"assignment covers {len(docs)} documents, expected {len(set(ids))}"]
    return []


def component_ids(ids, clusters: dict[int, int], edges) -> list[str]:
    """Each cluster id is the minimum doc_id of its connected component of
    the emitted edges."""
    want = components(ids, edges)
    bad = [d for d in ids if clusters[d] != want[d]]
    return [f"{len(bad)} cluster ids differ from union-find, e.g. doc {bad[0]}"] if bad else []


def shingles(text: str, k: int) -> set[str]:
    words = normalize(text).split()
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


# The banding the method specifies: 5-word shingles, 32 bands of 4 rows.
# Fixed here, not read from the program's config, so that a change to the
# program's banding cannot shrink what the recall checks ask of it.
SHINGLE_K, BANDS, ROWS = 5, 32, 4


def proposal_p(text_of: dict, pairs) -> dict:
    """Planted pair -> the probability that the specified MinHash banding
    proposes it, 1 - (1 - J^ROWS)^BANDS, J the Jaccard similarity of the
    two documents' word shingles."""
    cache: dict[int, set] = {}

    def sh(d: int) -> set:
        if d not in cache:
            cache[d] = shingles(text_of[d], SHINGLE_K)
        return cache[d]

    out = {}
    for a, b in pairs:
        sa, sb = sh(a), sh(b)
        j = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
        out[(a, b)] = 1 - (1 - j**ROWS) ** BANDS
    return out


def recall(clusters: dict[int, int], pairs) -> float:
    present = [(a, b) for a, b in pairs if a in clusters and b in clusters]
    return sum(clusters[a] == clusters[b] for a, b in present) / len(present) if present else 1.0


def duplicate_counts(clusters: dict[int, int], p_of: dict, floor: float = 0.99) -> dict:
    """Recall of the planted near-duplicate pairs present in ``clusters``:
    over all of them, and over the ``floor`` scope, the pairs the banding
    proposes with probability >= ``floor`` (short documents with a few
    words swapped have J of 0.1-0.5 and fall outside); and the misses
    beside the banding's expected misses and their standard deviation."""
    present = {pr: p for pr, p in p_of.items() if pr[0] in clusters and pr[1] in clusters}
    scope = [pr for pr, p in present.items() if p >= floor]
    return {
        "pairs": len(present),
        "recall": recall(clusters, present),
        "scope": len(scope),
        "scope_recall": recall(clusters, scope),
        "missed": sum(clusters[a] != clusters[b] for a, b in present),
        "expected": sum(1 - p for p in present.values()),
        "sd": math.sqrt(sum(p * (1 - p) for p in present.values())),
    }


def duplicate_recall(counts: dict, floor: float = 0.99) -> list[str]:
    """Recall >= ``floor`` in the scope; over all planted pairs, recall >=
    ``floor`` once the misses the banding explains are forgiven: misses at
    most the expected misses plus four standard deviations plus one, plus
    the share ``1 - floor`` of the pairs."""
    errs = []
    if counts["scope_recall"] < floor:
        errs.append(f"near-duplicate recall {counts['scope_recall']:.4f} < {floor} "
                    f"over {counts['scope']} pairs in banding scope")
    allowed = int(counts["expected"] + 4 * counts["sd"] + 1 + (1 - floor) * counts["pairs"])
    if counts["missed"] > allowed:
        errs.append(f"near-duplicate pairs missed {counts['missed']}/{counts['pairs']} > {allowed}")
    return errs


def substring_recall(clusters: dict[int, int], pairs, miss_p: float = 0.008) -> list[str]:
    """Misses allowed by fingerprint sampling: the expected count plus four
    standard deviations plus one."""
    present = [(a, b) for a, b in pairs if a in clusters and b in clusters]
    missed = sum(clusters[a] != clusters[b] for a, b in present)
    n = len(present)
    allowed = int(n * miss_p + 4 * math.sqrt(n * miss_p) + 1)
    if missed > allowed:
        return [f"substring pairs missed {missed}/{n} > {allowed}"]
    return []


def cliques_whole(clusters: dict[int, int], cliques) -> list[str]:
    errs = []
    for members in cliques:
        ids = {clusters[m] for m in members}
        if len(ids) != 1:
            errs.append(f"clique of {len(members)} split over {len(ids)} clusters")
    return errs


def merge_only(before: dict[int, int], after: dict[int, int]) -> list[str]:
    """Two documents that shared a cluster still share one."""
    new_of: dict[int, int] = {}
    for doc, cl in before.items():
        if new_of.setdefault(cl, after[doc]) != after[doc]:
            return [f"cluster {cl} split by the fold (doc {doc})"]
    return []


def jw_edge_sample(edges, text_of, cfg, rng: random.Random, k: int = 20) -> list[str]:
    """Accepted edges score >= jw_min_score under the oracle, on the
    normalized prefix the pipeline scores, and the stored score agrees."""
    errs = []
    for a, b, s in rng.sample(edges, min(k, len(edges))):
        ta = normalize(text_of[a])[: cfg.max_jw_len]
        tb = normalize(text_of[b])[: cfg.max_jw_len]
        want = jaro_winkler(ta, tb, cfg.jw_weight, cfg.jw_threshold)
        if want < cfg.jw_min_score - SCORE_TOL or abs(want - s) > SCORE_TOL:
            errs.append(f"jw edge ({a},{b}) scored {s}, oracle {want:.6f}")
    return errs


def has_common_substring(a: str, b: str, n: int) -> bool:
    if len(a) < n or len(b) < n:
        return False
    grams = {b[i : i + n] for i in range(len(b) - n + 1)}
    return any(a[i : i + n] in grams for i in range(len(a) - n + 1))


def sub_edge_sample(edges, text_of, cfg, rng: random.Random, k: int = 20) -> list[str]:
    errs = []
    for a, b in rng.sample(edges, min(k, len(edges))):
        if not has_common_substring(
            normalize(text_of[a]), normalize(text_of[b]), cfg.min_substring_chars
        ):
            errs.append(f"substring edge ({a},{b}) has no common "
                        f"{cfg.min_substring_chars}-char substring")
    return errs


def kernel_pass(wl, results: dict, rng: random.Random, n_words: int = 20) -> list[str]:
    """``results[mode]`` maps query index -> (candidate indices, scores) for
    the sampled queries, and ``results['min00_len']`` holds every query's
    result count."""
    errs = []
    n = len(wl.words)
    short = [q for q, m in enumerate(results["min00_len"]) if m != n]
    if short:
        errs.append(f"min00 returned fewer than {n} candidates for {len(short)} queries")
    for qi, (idx, sc) in results["min00"].items():
        q = wl.queries[qi]
        if sorted(idx.tolist()) != list(range(n)):
            errs.append(f"min00 query {qi}: candidates missing or repeated")
            continue
        full = dict(zip(idx.tolist(), sc.tolist()))
        hits09 = dict(zip(*(x.tolist() for x in results["min09"][qi])))
        sample = set(rng.sample(range(n), n_words)) | set(list(hits09)[:n_words])
        for c in sample:
            want = jaro(q, wl.words[c])
            if abs(full[c] - want) > SCORE_TOL:
                errs.append(f"{wl.name} query {q!r} vs {wl.words[c]!r}: {full[c]} != {want:.6f}")
            elif abs(want - 0.9) > SCORE_TOL and (c in hits09) != (want >= 0.9):
                errs.append(f"{wl.name} query {q!r}: min09 membership of {wl.words[c]!r} wrong")
        top = sorted(full.values(), reverse=True)[:10]
        got = sorted(results["nbest10"][qi][1].tolist(), reverse=True)
        if len(got) != len(top) or any(abs(x - y) > SCORE_TOL for x, y in zip(got, top)):
            errs.append(f"{wl.name} query {q!r}: nbest10 is not the 10 highest scores")
    return errs
