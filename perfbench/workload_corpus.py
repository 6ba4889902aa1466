"""``corpus_daily``: the LLM-data write path, with writes beside reads.

Set-up.  The seed splits the ``documents`` table into a base corpus
(70%) and daily increments.  A document's vector is the ``embeddings``
row with the same id, when there is one.  The base corpus is built into
the BM25, LSH, IVF, PQ and IVFPQ layouts.

Each day, until ``--seconds`` have passed:

1. dedup the increment against the corpus with
   ``prefix_jaccard_new_pairs``, ``prefix_containment_new_pairs`` or
   ``cosine_prefix_new_pairs``, rotating by day; a new document paired
   with a corpus document, or with a lower-id new document, is dropped;
2. append the survivors to all five layouts, then ``maintain_index``
   each one (compaction fires once a layout holds more than its
   ``MAX_SEGMENTS``: IVF daily, the others at seven);
3. probe every layout with the day's fixed query, and score
   recall@10 against exact results (cosine top-10 computed in numpy,
   and ``bm25_topk`` over the same corpus).

A day's query vector makes six probes (five layouts plus filtered IVF),
so a run has too few probes for a percentile: ``op_s`` is their mean,
which every layout moves, and ``op_tail_s`` the slowest probe.

Once per run: a ``forget_ids`` cascade on the first day, and one
corpus-wide ``prefix_jaccard_pairs`` self-join at the end.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from common import Clock, Outcome, digest, median
from spans import add_self_times, attribute_jobs, layer_counts, read_event_log

BASE_SHARE = 0.7
DAYS = 12
# IVF is compacted every day (one run is one day at the default run
# length, so a compaction fires in every run); the other layouts keep
# maintain_index's default policy of seven segments
MAX_SEGMENTS = {"bm25": 7, "lsh": 7, "ivf": 1, "pq": 7, "ivfpq": 7}
PROBES_PER_DAY = 1
FORGET_IDS = 20
RECALL_FLOOR = {"bm25": 1.0, "lsh": 0.7, "ivf": 1.0, "ivf_filtered": 0.8, "pq": 1.0, "ivfpq": 1.0}
DEDUP = ("prefix_jaccard_new_pairs", "prefix_containment_new_pairs", "cosine_prefix_new_pairs")


def _tree_files(root: str) -> "dict[str, tuple[int, int]]":
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_mtime_ns, st.st_size)
    return out


class Corpus:
    """The benchmark's own copy of what the corpus holds, used to stage
    inputs and to compute exact answers."""

    def __init__(self, data_dir: str, seed: int):
        docs = pq.read_table(os.path.join(data_dir, "documents.parquet"))
        vecs = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
        self.docs = docs
        self.vec_ids = vecs.column("vec_id").to_numpy()
        self.labels = vecs.column("label").to_numpy()
        self.matrix = np.stack(vecs.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        self.vec_table = vecs
        # the base corpus is fixed (its layouts are built once per
        # checkout); the seed orders and splits the increments
        ids = np.random.default_rng([datagen.DATA_SEED, 7]).permutation(docs.num_rows)
        n_base = int(len(ids) * BASE_SHARE)
        self.base = np.sort(ids[:n_base])
        rest = np.random.default_rng([seed, 7]).permutation(ids[n_base:])
        self.days = [np.sort(x) for x in np.array_split(rest, DAYS)]
        self.live = set(self.base.tolist())
        self.rng = np.random.default_rng([seed, 11])
        # the probe queries are fixed too (base vectors and terms drawn
        # with the data seed), so probe latency measures the layouts and
        # what the seed's days put in them, not which query a seed drew
        probe_rng = np.random.default_rng([datagen.DATA_SEED, 13])
        qids = probe_rng.choice(self.base[self.base < len(self.vec_ids)], DAYS * PROBES_PER_DAY,
                                replace=False).tolist()
        self.probes = [(q, probe_rng.choice(datagen.VOCAB, 3, replace=False).tolist()) for q in qids]

    def doc_rows(self, ids) -> pa.Table:
        return self.docs.take(pa.array(np.asarray(sorted(ids), dtype=np.int64)))

    def vec_rows(self, ids) -> pa.Table:
        keep = [i for i in sorted(ids) if i < len(self.vec_ids)]
        return self.vec_table.take(pa.array(np.asarray(keep, dtype=np.int64)))

    def live_vecs(self) -> np.ndarray:
        return np.array(sorted(i for i in self.live if i < len(self.vec_ids)), dtype=np.int64)

    def exact_topk(self, qid: int, k: int = 10, label: "int | None" = None) -> "set[int]":
        """The exact cosine top-``k`` of ``qid`` among the live vectors
        (itself excluded), plus any vector tied with the k-th within
        float32 rounding: the engine ranks in float32 and double, so a
        near-tie at rank k may be broken either way."""
        ids = self.live_vecs()
        ids = ids[ids != qid]
        if label is not None:
            ids = ids[self.labels[ids] == label]
        m = self.matrix[ids]
        q = self.matrix[qid]
        sims = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
        kth = np.sort(sims)[::-1][min(k, len(sims)) - 1]
        return set(ids[sims >= kth - 1e-6].tolist())


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def _dropped(pairs, new_ids: "set[int]") -> "set[int]":
    drop = set()
    for a, b in pairs:
        if a in new_ids and b in new_ids:
            drop.add(max(a, b))
        elif a in new_ids:
            drop.add(a)
        elif b in new_ids:
            drop.add(b)
    return drop


def run(ctx) -> Outcome:
    from pyspark.sql import functions as F

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import dedup
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import retrieval as R
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import similarity as S
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.maintenance import (
        forget_ids,
        maintain_index,
    )

    spark, tracer = ctx.spark, ctx.tracer
    out = Outcome()
    root = f"{ctx.work_dir}/corpus"
    docs_ds, vecs_ds = f"{root}/docs_ds", f"{root}/vecs_ds"
    paths = {k: f"{root}/index/{k}" for k in ("bm25", "lsh", "ivf", "pq", "ivfpq")}

    corpus = Corpus(ctx.data_dir, ctx.seed)
    # keyed by the engine's sources too: the layouts are written by the
    # engine's own index writers
    cache = f"{ctx.cache_root}/corpus_base_v{datagen.DATA_VERSION}_sf{ctx.sf:g}_{ctx.engine_digest}"
    if not os.path.exists(f"{cache}/_COMPLETE"):
        # built once per checkout and engine version, like the input
        # tables: set-up copies the base layouts instead of rebuilding
        # them every run
        t = time.perf_counter()
        _build_base(spark, tracer, corpus, cache)
        ctx.excluded_s += time.perf_counter() - t
    with open(f"{cache}/_COMPLETE") as fh:
        out.info["base_build"] = json.load(fh)
    shutil.copytree(cache, root)

    def vecs_df():
        return spark.read.parquet(vecs_ds)

    def probe_calls(qid: int, terms: "list[str]"):
        qvec = corpus.matrix[qid].tolist()
        label = int(corpus.labels[qid])
        nq = (corpus.matrix[qid] / np.linalg.norm(corpus.matrix[qid])).tolist()
        others = vecs_df().filter(F.col("vec_id") != qid)
        return [
            ("bm25", lambda: R.bm25_topk_indexed(spark, paths["bm25"], terms, k=10)),
            ("lsh", lambda: S.lsh_topk_indexed(spark, paths["lsh"], query_vec_id=qid, k=10,
                                               query_vec=qvec, nprobe=8)),
            ("ivf", lambda: S.ivf_topk_indexed(spark, paths["ivf"], qvec, k=10, nprobe=8,
                                               exclude_vec_id=qid)),
            ("ivf_filtered", lambda: S.ivf_topk_indexed_filtered(
                spark, paths["ivf"], qvec, f"label = {label}", k=10, nprobe=8,
                exclude_vec_id=qid)),
            ("pq", lambda: S.pq_topk_indexed(spark, paths["pq"], others, qvec, k=10, shortlist=100)),
            ("ivfpq", lambda: S.ivfpq_topk_indexed(spark, paths["ivfpq"], S.unit_normalize(others),
                                                   nq, k=10, nprobe=8, shortlist=200)),
        ]

    # no warm-up pass: like a daily job, the run starts in a fresh JVM,
    # and the day's ingest runs before its probes
    out.e2e["setup_s"] = ctx.setup_done()

    probe_lat, recalls = [], {k: [] for k in RECALL_FLOOR}
    ingest_s, ingested, write_amp = 0.0, 0, []
    forget_report, probe_log = {}, []
    clock = Clock(ctx.seconds)
    day = 0
    while day < DAYS and (day == 0 or not clock.expired()):
        fn_name = DEDUP[day % len(DEDUP)]
        t = time.perf_counter()
        inc_ids = corpus.days[day].tolist()
        inc_docs_path = _write(corpus.doc_rows(inc_ids), f"{root}/inc/day{day:02d}-docs.parquet")
        ctx_excluded = time.perf_counter() - t
        t_day = time.perf_counter()
        with tracer.span(f"dedup:{fn_name}", "dedup", op=day, kind="new_pairs"):
            pairs = getattr(dedup, fn_name)(spark.read.parquet(docs_ds),
                                            spark.read.parquet(inc_docs_path))
            pairs = [(r[0], r[1]) for r in pairs.select("doc_a", "doc_b").collect()]
        survivors = sorted(set(inc_ids) - _dropped(pairs, set(inc_ids)))
        t = time.perf_counter()
        surv_docs = _write(corpus.doc_rows(survivors), f"{root}/surv/day{day:02d}-docs.parquet")
        surv_vecs = _write(corpus.vec_rows(survivors), f"{root}/surv/day{day:02d}-vecs.parquet")
        inc_bytes = os.path.getsize(surv_docs) + os.path.getsize(surv_vecs)
        before = sum(_dir_bytes(p) for p in paths.values())
        ctx_excluded += time.perf_counter() - t
        new_docs, new_vecs = spark.read.parquet(surv_docs), spark.read.parquet(surv_vecs)
        appends = (
            ("bm25", lambda: R.append_bm25_index(new_docs, paths["bm25"])),
            ("lsh", lambda: S.append_lsh_index(new_vecs, paths["lsh"])),
            ("ivf", lambda: S.append_ivf_index(new_vecs, paths["ivf"])),
            ("pq", lambda: S.append_pq_index(new_vecs, paths["pq"])),
            ("ivfpq", lambda: S.append_ivfpq_index(S.unit_normalize(new_vecs), paths["ivfpq"])),
        )
        for kind, call in appends:
            with tracer.span(f"append:{kind}", "index", op=day, kind=kind):
                call()
        t = time.perf_counter()
        write_amp.append((sum(_dir_bytes(p) for p in paths.values()) - before) / max(inc_bytes, 1))
        shutil.copy(surv_docs, f"{docs_ds}/day{day:02d}.parquet")
        shutil.copy(surv_vecs, f"{vecs_ds}/day{day:02d}.parquet")
        corpus.live.update(survivors)
        ctx_excluded += time.perf_counter() - t
        for kind, p in paths.items():
            with tracer.span(f"maintain:{kind}", "maintenance", op=day, kind=kind) as sp:
                sp.attrs.update(maintain_index(spark, p, max_segments=MAX_SEGMENTS[kind]))
        if day == 0:
            probed = {q for q, _ in corpus.probes}
            victims = corpus.rng.choice(
                sorted(i for i in corpus.base.tolist() if i < len(corpus.vec_ids) and i not in probed),
                FORGET_IDS, replace=False).tolist()
            t = time.perf_counter()
            files_before = _tree_files(root)
            ctx_excluded += time.perf_counter() - t
            with tracer.span("forget", "maintenance", op=day, kind="forget"):
                forget_report = forget_ids(spark, victims, index_roots=list(paths.values()),
                                           datasets=[(docs_ds, "doc_id"), (vecs_ds, "vec_id")])
            t = time.perf_counter()
            files_after = _tree_files(root)
            out.info["forget_bytes_rewritten"] = sum(
                size for p, (mt, size) in files_after.items() if files_before.get(p) != (mt, size))
            corpus.live.difference_update(victims)
            ctx_excluded += time.perf_counter() - t
        ingest_s += time.perf_counter() - t_day - ctx_excluded
        ctx.excluded_s += ctx_excluded
        ingested += len(inc_ids)
        day_probes = corpus.probes[day * PROBES_PER_DAY:(day + 1) * PROBES_PER_DAY]
        probe_log.append(day_probes)
        for qid, terms in day_probes:
            nearest = corpus.exact_topk(qid)
            for kind, call in probe_calls(qid, terms):
                out.attempted += 1
                t = time.perf_counter()
                try:
                    with tracer.span(f"probe:{kind}", "index", op=day, kind=kind, probe=True):
                        got = {r[0] for r in call().collect()}
                except Exception as exc:  # a failed probe must not end the run
                    out.failed += 1
                    out.info.setdefault("probe_errors", []).append(f"{kind}: {exc!r}"[:300])
                    continue
                probe_lat.append(time.perf_counter() - t)
                with tracer.span(f"exact:{kind}", "bench"):
                    if kind == "bm25":
                        want = {r[0] for r in R.bm25_topk(spark.read.parquet(docs_ds), terms, k=10)
                                .select("doc_id").collect()}
                    elif kind == "ivf_filtered":
                        want = corpus.exact_topk(qid, label=int(corpus.labels[qid]))
                    else:
                        want = nearest
                recalls[kind].append(min(len(got & want), 10) / min(max(len(want), 1), 10))
        day += 1

    # once per run: the corpus-wide self-join
    t = time.perf_counter()
    with tracer.span("self_join:prefix_jaccard_pairs", "dedup", op=day, kind="self_pairs") as sp:
        sp.attrs["pairs"] = dedup.prefix_jaccard_pairs(spark.read.parquet(docs_ds)).count()
    ingest_s += time.perf_counter() - t

    for kind, floor in RECALL_FLOOR.items():
        mean = sum(recalls[kind]) / max(len(recalls[kind]), 1)
        out.check(f"recall:{kind}", bool(recalls[kind]) and mean >= floor - 1e-9)
        out.info.setdefault("recall_at_10", {})[kind] = mean
    out.e2e.update(op_s=sum(probe_lat) / max(len(probe_lat), 1), op_tail_s=max(probe_lat, default=0.0),
                   work_per_s=ingested / ingest_s)
    out.info.update(
        workload="corpus_daily", days=day, samples=len(probe_lat), probe_median_s=median(probe_lat),
        increment_docs=ingested, ingest_s=ingest_s, base_docs=len(corpus.base),
        session_start_s=ctx.session_start_s,
        write_amp=median(write_amp), forget_targets=len(forget_report),
        inputs_digest=digest([d.tolist() for d in corpus.days], probe_log),
        op="index probe: mean over the run's probes (five layouts plus filtered IVF)",
        op_tail="slowest probe of the run", work="increment docs ingested per second",
    )
    return out


def _build_base(spark, tracer, corpus: "Corpus", cache: str) -> None:
    """Write the base corpus datasets and build its five layouts into
    ``cache``, recording each build's seconds."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import retrieval as R
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import similarity as S

    staging = f"{cache}.building"
    shutil.rmtree(staging, ignore_errors=True)
    docs_ds, vecs_ds = f"{staging}/docs_ds", f"{staging}/vecs_ds"
    _write(corpus.doc_rows(corpus.base), f"{docs_ds}/base.parquet")
    _write(corpus.vec_rows(corpus.base), f"{vecs_ds}/base.parquet")
    docs, vecs = spark.read.parquet(docs_ds), spark.read.parquet(vecs_ds)
    builds = (
        ("bm25", lambda p: R.write_bm25_index(docs, p, n_buckets=64)),
        ("lsh", lambda p: S.write_lsh_index(vecs, p, planes=4, dims=datagen.EMBED_DIM)),
        ("ivf", lambda p: S.write_ivf_index(vecs, p, n_clusters=16, iterations=3)),
        ("pq", lambda p: S.write_pq_index(vecs, p, m=16, k=32, iterations=2)),
        ("ivfpq", lambda p: S.write_ivfpq_index(
            S.unit_normalize(vecs), p, n_clusters=16, m=16, codes_k=32,
            coarse_iterations=3, pq_iterations=2, assign_n=4)),
    )
    seconds = {}
    for kind, build in builds:
        t = time.perf_counter()
        with tracer.span(f"build:{kind}", "index"):
            build(f"{staging}/index/{kind}")
        seconds[kind] = time.perf_counter() - t
    with open(f"{staging}/_COMPLETE", "w") as fh:
        json.dump({"build_s": seconds, "base_docs": len(corpus.base)}, fh)
    os.rename(staging, cache)


def _dir_bytes(path: str) -> int:
    return sum(size for _, size in _tree_files(path).values())


def layer_metrics(ctx, out: Outcome) -> None:
    tracer, lay = ctx.tracer, out.layer
    out.info["jobs_attributed"] = attribute_jobs(tracer, read_event_log(f"{ctx.work_dir}/eventlog"))

    def spans(prefix: str):
        return [s for s in tracer.spans if s.name.startswith(prefix)]

    def mean_duration(ss) -> float:
        return sum(s.duration for s in ss) / max(len(ss), 1)

    lay["session.start_s"] = ctx.session_start_s
    new_pairs = spans("dedup:")
    lay["dedup.new_pairs_s"] = mean_duration(new_pairs)
    lay["dedup.self_pairs_s"] = mean_duration(spans("self_join:"))
    counts, n = layer_counts(tracer, "dedup")
    lay["dedup.jobs"] = counts.get("jobs", 0) / max(n, 1)
    lay["dedup.shuffle_bytes"] = counts.get("shuffle_write_bytes", 0) / max(n, 1)
    lay["dedup.pairs_out"] = sum(s.attrs.get("pairs", 0) for s in spans("self_join:"))
    appends = spans("append:")
    probes = spans("probe:")
    for kind in ("bm25", "lsh", "ivf", "pq", "ivfpq"):
        lay[f"index.append_s.{kind}"] = mean_duration(spans(f"append:{kind}"))
        lay[f"index.probe_s.{kind}"] = mean_duration(spans(f"probe:{kind}"))
        maint = spans(f"maintain:{kind}")
        lay[f"index.segments.{kind}"] = maint[-1].attrs.get("segments_after", 0) if maint else 0
    for kind in out.info["recall_at_10"]:
        lay[f"index.recall_at_10.{kind}"] = out.info["recall_at_10"][kind]
    lay["index.jobs_per_append"] = sum(s.counts.get("jobs", 0) for s in appends) / max(len(appends), 1)
    lay["index.jobs_per_probe"] = sum(s.counts.get("jobs", 0) for s in probes) / max(len(probes), 1)
    lay["index.write_amp"] = out.info["write_amp"]
    maint = spans("maintain:")
    compacted = [s for s in maint if s.attrs.get("compacted")]
    lay["maintenance.compact_s"] = mean_duration(compacted)
    lay["maintenance.compactions"] = len(compacted)
    lay["maintenance.forget_s"] = mean_duration(spans("forget"))
    lay["maintenance.forget_bytes_rewritten"] = out.info.get("forget_bytes_rewritten", 0)
    timed = [s for s in tracer.spans if s.op is not None and s.parent is None and s.layer != "bench"]
    n_ops = max(len(probes), 1)
    for key, name in (("run_s", "executor_run_s"), ("cpu_s", "executor_cpu_s"), ("gc_s", "gc_s"),
                      ("scheduler_delay_s", "scheduler_delay_s")):
        lay[f"spark.{name}"] = sum(s.counts.get(key, 0) for s in timed) / n_ops
    add_self_times(tracer, lay, n_ops)
