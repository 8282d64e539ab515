"""crawl_full and crawl_increment: the PySpark pipeline, timed from outside
through ``DedupPipeline.run`` / ``run_incremental``, one operation at a
time, each with a fresh checkpoint directory."""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import statistics
import sys
import time

import pandas as pd
from pyspark.sql import functions as F

import checks
import common
import eventlog
import inputs
import replay
from batch_jaro_winkler_spark.operators.config import DedupConfig
from batch_jaro_winkler_spark.operators.connected_components import connected_components
from batch_jaro_winkler_spark.operators.fingerprint_dedup import (
    fingerprint_pairs,
    fingerprints,
    substring_edges,
)
from batch_jaro_winkler_spark.operators.lsh import band_buckets, candidate_pairs
from batch_jaro_winkler_spark.operators.partitioning import widen_scan
from batch_jaro_winkler_spark.operators.score_pairs import verify_pairs
from batch_jaro_winkler_spark.operators.signatures import compute_signatures
from batch_jaro_winkler_spark.pipeline import DedupPipeline
from batch_jaro_winkler_spark.sources.catalog import Catalog

_SITE = re.compile(r'File "[^"]*(batch_jaro_winkler_spark/[\w/]+\.py)", line (\d+)')


def _write_parquet(spark, path: str, docs: inputs.Docs):
    pdf = pd.DataFrame({"doc_id": docs.ids, "text": docs.texts})
    # several row groups, as a crawl's parquet would have; one row group
    # would be a single scan split
    pdf.to_parquet(path, row_group_size=max(1, len(pdf) // 8), index=False)
    return spark.read.parquet(path)


def _stage_bucket(name: str) -> str:
    base = name.split("_inc_")[0]
    return {"cand_pairs": "jw_edges", "fingerprints": "sub_edges"}.get(base, base)


def _layer_name(name: str) -> str:
    base = name.split("_inc_")[0]
    return f"pipeline.inc_{base}_s" if "_inc_" in name else f"pipeline.{base}_s"


def _catalog_io(ck: str, since: float) -> tuple[float, float]:
    """(write seconds, MB written) of the checkpoint tables written since
    ``since``, from their manifests and data files."""
    sec = mb = 0.0
    for table in os.listdir(ck):
        man = os.path.join(ck, table, "manifest.json")
        if os.path.exists(man) and os.path.getmtime(man) >= since:
            with open(man) as fh:
                sec += float(json.load(fh)["wall_sec"])
            data = os.path.join(ck, table, "data")
            mb += sum(os.path.getsize(os.path.join(data, f)) for f in os.listdir(data)) / 1e6
    return sec, mb


class TracedPipeline(DedupPipeline):
    """Records where each stage starts and ends, which its wall in
    ``metrics`` alone does not say; used only in the traced run."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.spans: list[tuple[str, float, float]] = []

    def _stage(self, name, *args, **kwargs):
        t0 = time.time()
        try:
            return super()._stage(name, *args, **kwargs)
        finally:
            self.spans.append((name, t0, time.time()))


def _means(records: list[dict]) -> dict[str, float]:
    """Per-layer means over the warm operations' records."""
    keys = {k for r in records for k in r["layers"]}
    return {k: statistics.fmean(r["layers"].get(k, 0.0) for r in records) for k in keys}


def _pipeline_record(pipe: DedupPipeline, op, span: str, ck: str) -> dict:
    """Stage walls, the gap outside them and, for a fold, its checkpoint
    writes."""
    layers = {_layer_name(m.name): m.wall_sec for m in pipe.metrics}
    pre = "pipeline.inc_" if op.kind == "fold" else "pipeline."
    layers[pre + "gap_s"] = op.wall - sum(m.wall_sec for m in pipe.metrics)
    layers[pre + "wall_s"] = op.wall
    if op.kind == "fold":
        layers["catalog.write_s"], layers["catalog.write_mb"] = _catalog_io(ck, op.start)
    return {
        "span": span,
        "start": op.start,
        "wall": op.wall,
        "stages": [(_stage_bucket(n), t0, t1) for n, t0, t1 in getattr(pipe, "spans", ())],
        "layers": layers,
    }


def _duplicate_recall(kind: str, clusters, p_of: dict) -> list[str]:
    """The recall checks; the measured recall goes to standard error."""
    c = checks.duplicate_counts(clusters, p_of)
    print(
        f"[{kind}] near-duplicate recall {c['recall']:.4f} over all {c['pairs']} planted "
        f"pairs ({c['missed']} missed, {c['expected']:.1f} expected from banding), "
        f"{c['scope_recall']:.4f} over the {c['scope']} in banding scope",
        file=sys.stderr,
    )
    return checks.duplicate_recall(c)


def _rows(df) -> list[tuple[int, int]]:
    pdf = df.toPandas()
    return list(zip(pdf["doc_id"].tolist(), pdf["cluster_id"].tolist()))


# --------------------------------------------------------------- crawl_full


def _full(args, measure, sp, records: list[dict], pipeline_cls) -> dict:
    spark = sp.session
    spec = inputs.SMALL_FULL if args.small else inputs.FULL
    corpus = inputs.crawl_corpus(args.seed, spec)
    inp = os.path.join(args.work, "input")
    os.makedirs(inp, exist_ok=True)
    docs = _write_parquet(spark, os.path.join(inp, "full.parquet"), corpus)
    docs.count()
    nulls = inputs.null_slice(corpus, args.seed, spec["null_docs"])
    null_docs = _write_parquet(spark, os.path.join(inp, "null.parquet"), nulls)
    null_docs.count()
    measure.setup_done()

    cfg = DedupConfig()
    text_of = dict(zip(corpus.ids, corpus.texts))
    p_of = checks.proposal_p(text_of, corpus.true_pairs)
    rng = random.Random(args.seed)
    n = 0
    while measure.want_round():
        for _ in range(spec["runs_per_round"]):
            n += 1
            span, ck = f"full{n}", os.path.join(args.work, f"ck{n}")
            pipe = pipeline_cls(spark, cfg, ck)
            sp.mark(span)
            with measure.op("full_run", corpus.text_bytes) as op:
                out = pipe.run(docs)
            sp.mark("check")
            if not op.failed:
                op.verdict(_check_full(spark, out, ck, corpus, p_of, text_of, cfg, rng))
                if not op.cold and not op.failed:
                    records.append(_pipeline_record(pipe, op, span, ck))
            shutil.rmtree(ck, ignore_errors=True)
        n += 1
        ck = os.path.join(args.work, f"ck{n}")
        sp.mark(f"null{n}")
        with measure.op("null_text", nulls.text_bytes, primary=False, known_fault=True) as op:
            out = DedupPipeline(spark, cfg, ck).run(null_docs)
        sp.mark("check")
        if op.failed:
            site = _SITE.findall(op.traceback + op.error)
            if site:
                print(f"[null_text] fails at {site[-1][0]}:{site[-1][1]}", file=sys.stderr)
        else:
            op.verdict(checks.once(nulls.ids, _rows(out)))
        shutil.rmtree(ck, ignore_errors=True)
    layers = _means(records)
    if args.trace:
        layers.update(_traced_operators(spark, docs, cfg, corpus))
    return layers


def _check_full(spark, out, ck, corpus, p_of, text_of, cfg, rng) -> list[str]:
    rows = _rows(out)
    errs = checks.once(corpus.ids, rows)
    if errs:
        return errs
    cl = dict(rows)
    cat = Catalog(spark, ck)
    jw = cat.read("jw_edges").toPandas()
    sub = cat.read("sub_edges").toPandas()
    edges = list(zip(jw["a"].tolist(), jw["b"].tolist())) + list(
        zip(sub["a"].tolist(), sub["b"].tolist())
    )
    errs = checks.component_ids(corpus.ids, cl, edges)
    errs += _duplicate_recall("crawl_full", cl, p_of)
    errs += checks.cliques_whole(cl, corpus.cliques)
    errs += checks.substring_recall(cl, corpus.substring_pairs)
    errs += checks.jw_edge_sample(
        list(zip(jw["a"].tolist(), jw["b"].tolist(), jw["score"].tolist())), text_of, cfg, rng
    )
    errs += checks.sub_edge_sample(list(zip(sub["a"].tolist(), sub["b"].tolist())), text_of, cfg, rng)
    return errs


def _traced_operators(spark, docs, cfg, corpus) -> dict[str, float]:
    """The operators called one by one on materialized inputs."""
    out: dict[str, float] = {}
    src = widen_scan(docs.select("doc_id", "text")).localCheckpoint(eager=True)

    t0 = time.perf_counter()
    sigs = compute_signatures(src, cfg, "doc_id", "text", include_norm=True).localCheckpoint(eager=True)
    out["signatures.docs_per_s"] = len(corpus.ids) / (time.perf_counter() - t0)

    buckets = band_buckets(sigs)
    t0 = time.perf_counter()
    pairs = candidate_pairs(buckets, cfg).select("a", "b").localCheckpoint(eager=True)
    out["lsh.wall_s"] = time.perf_counter() - t0
    n_pairs = pairs.count()
    out["lsh.candidate_pairs"] = n_pairs
    out["lsh.hot_buckets"] = (
        buckets.groupBy("band_id", "band_hash").count().where(F.col("count") > cfg.allpairs_cap).count()
    )

    sig_jw = sigs.withColumn("jw_text", F.substring("norm", 1, cfg.max_jw_len))
    t0 = time.perf_counter()
    jw = verify_pairs(pairs, sig_jw, cfg, "doc_id", "jw_text").localCheckpoint(eager=True)
    out["score_pairs.wall_s"] = time.perf_counter() - t0
    n_jw = jw.count()
    texts = sig_jw.select("doc_id", "jw_text")
    tp = (
        pairs.join(texts.withColumnRenamed("doc_id", "a").withColumnRenamed("jw_text", "text_a"), "a")
        .join(texts.withColumnRenamed("doc_id", "b").withColumnRenamed("jw_text", "text_b"), "b")
        .select("text_a", "text_b")
        .toPandas()
        .drop_duplicates()
    )
    out["score_pairs.pairs"] = n_pairs
    out["score_pairs.distinct_text_pairs"] = len(tp)
    out["score_pairs.accept_ratio"] = n_jw / n_pairs if n_pairs else 0.0

    norm = sigs.select("doc_id", "norm")
    t0 = time.perf_counter()
    fps = fingerprints(norm, cfg, "doc_id", "norm", pre_normalized=True).localCheckpoint(eager=True)
    sub = substring_edges(norm, cfg, "doc_id", "norm", pre_normalized=True, fps=fps).localCheckpoint(eager=True)
    out["fingerprint_dedup.wall_s"] = time.perf_counter() - t0
    n_cand = fingerprint_pairs(fps, cfg).count()
    out["fingerprint_dedup.fingerprints"] = fps.count()
    out["fingerprint_dedup.candidate_pairs"] = n_cand
    out["fingerprint_dedup.accept_ratio"] = sub.count() / n_cand if n_cand else 0.0

    edges = jw.select("a", "b").union(sub.select("a", "b")).localCheckpoint(eager=True)
    out["connected_components.edges"] = edges.count()
    t0 = time.perf_counter()
    connected_components(edges, cfg, all_nodes=sigs.select("doc_id")).localCheckpoint(eager=True)
    out["connected_components.wall_s"] = time.perf_counter() - t0

    out.update(replay.verify_routes(tp, cfg))
    return out


# ---------------------------------------------------------- crawl_increment


def _increment(args, measure, sp, records: list[dict], pipeline_cls) -> dict:
    spark = sp.session
    spec = inputs.SMALL_INCREMENT if args.small else inputs.INCREMENT
    corpus = inputs.crawl_corpus(args.seed, spec)
    base_ids, batches = inputs.increments(corpus, args.seed, spec)
    text_of = dict(zip(corpus.ids, corpus.texts))
    inp = os.path.join(args.work, "input")
    os.makedirs(inp, exist_ok=True)

    def subset(ids):
        return inputs.Docs(ids=ids, texts=[text_of[i] for i in ids])

    base_df = _write_parquet(spark, os.path.join(inp, "base.parquet"), subset(base_ids))
    batch_docs = [subset(b) for b in batches]
    batch_dfs = [
        _write_parquet(spark, os.path.join(inp, f"batch{k}.parquet"), d)
        for k, d in enumerate(batch_docs)
    ]
    cfg = DedupConfig(persist_fingerprints=True)
    base_ck = os.path.join(args.work, "base_state")
    sp.mark("setup")
    base_clusters = dict(_rows(DedupPipeline(spark, cfg, base_ck).run(base_df)))
    measure.setup_done()

    p_of = checks.proposal_p(text_of, corpus.true_pairs)
    n = 0
    compact_s = []
    ck = None
    while measure.want_round():
        if ck:
            shutil.rmtree(ck, ignore_errors=True)
        ck = os.path.join(args.work, f"round{measure.rounds}")
        shutil.copytree(base_ck, ck)
        before, present = base_clusters, list(base_ids)
        for bdocs, bdf in zip(batch_docs, batch_dfs):
            n += 1
            span = f"fold{n}"
            pipe = pipeline_cls(spark, cfg, ck)
            parts = len(pipe.catalog.parts("signatures"))
            sp.mark(span)
            with measure.op("fold", bdocs.text_bytes) as op:
                out = pipe.run_incremental(bdf)
            sp.mark("check")
            if op.failed:
                break
            present += bdocs.ids
            rows = _rows(out)
            errs = checks.once(present, rows)
            if not errs:
                after = dict(rows)
                errs = _least_member_ids(after)
                errs += _duplicate_recall("fold", after, p_of)
                errs += checks.substring_recall(after, corpus.substring_pairs)
                errs += checks.merge_only(before, after)
                before = after
            op.verdict(errs)
            if not op.cold and not op.failed:
                r = _pipeline_record(pipe, op, span, ck)
                r["layers"]["catalog.read_union_parts"] = parts
                records.append(r)
        cat = Catalog(spark, ck)
        counts = {t: cat.read_union(t).count() for t in ("signatures", "fingerprints")}
        n += 1
        sp.mark(f"compact{n}")
        with measure.op("compact", 0, primary=False) as op:
            done = [cat.compact(t, max_parts=0) for t in counts]
        sp.mark("check")
        if not op.failed:
            compact_s.append(op.wall)
            errs = [] if all(done) else ["compaction did not run"]
            for t, before_rows in counts.items():
                if cat.parts(t) or cat.read_union(t).count() != before_rows:
                    errs.append(f"compacted {t} lost its parts' rows")
            op.verdict(errs)
    layers = _means(records)
    if compact_s:
        layers["catalog.compact_s"] = statistics.fmean(compact_s)
    if args.trace:
        layers.update(_traced_fold_cc(spark, Catalog(spark, ck), cfg))
    shutil.rmtree(ck, ignore_errors=True)
    return layers


def _traced_fold_cc(spark, cat: Catalog, cfg) -> dict[str, float]:
    """connected_components on the shape a fold feeds it: the standing
    assignment as (doc, cluster) edges plus the last fold's new edges."""
    clusters = cat.read("clusters")
    edges = clusters.select(F.col("doc_id").alias("a"), F.col("cluster_id").alias("b")).where(
        F.col("a") != F.col("b")
    )
    for table in sorted(os.listdir(cat.root)):
        if table.startswith(("jw_edges_inc_", "sub_edges_inc_")) and cat.exists(table):
            edges = edges.union(cat.read(table).select("a", "b"))
    edges = edges.localCheckpoint(eager=True)
    n_edges = edges.count()
    t0 = time.perf_counter()
    connected_components(edges, cfg, all_nodes=clusters.select("doc_id")).localCheckpoint(eager=True)
    return {
        "connected_components.inc_edges": n_edges,
        "connected_components.inc_wall_s": time.perf_counter() - t0,
    }


def _least_member_ids(clusters: dict[int, int]) -> list[str]:
    """Each cluster id is its least member, so ids change only on merges."""
    least: dict[int, int] = {}
    for d, c in clusters.items():
        least[c] = min(least.get(c, d), d)
    bad = [c for c, m in least.items() if c != m]
    return [f"{len(bad)} cluster ids are not their least member"] if bad else []


# ------------------------------------------------------------------- entry


def run(args, name: str, measure, holder: dict) -> dict:
    if "spark" not in holder:
        holder["spark"] = common.Spark(args.work, min(4, common.host_cores()), bool(args.trace))
    sp = holder["spark"]
    records: list[dict] = []
    pipeline_cls = TracedPipeline if args.trace else DedupPipeline
    body = _full if name == "crawl_full" else _increment
    layers = body(args, measure, sp, records, pipeline_cls)
    layers["session.start_s"] = sp.start_s
    if args.trace and name == "crawl_full":
        # the fold layers, measured beside the full runs: one round of the
        # increment sequence, outside the operations this run reports
        folds = common.Measure(0, time.perf_counter())
        layers.update(_increment(args, folds, sp, [], pipeline_cls))
        measure.side_errors += [f"traced increment/{o.kind}: {o.error}" for o in folds.ops if o.failed]
    if args.trace:
        holder.pop("spark").stop()  # the event log is complete once stopped
        layers.update(eventlog.layers(sp.event_dir, records))
    return layers
