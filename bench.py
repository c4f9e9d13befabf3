"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE compact JSON line: {"metric": ..., "value": total_sec, "unit":
"sec", "queries": {name: sec}, "sf": ...}.

The headline set is one representative per operator family (agg, join
pipeline, window, dedup/LSH, ANN, CF, text, skew, streaming-batch,
multimodal, incremental) — the full 100+ registry sweep is available
with --all, but the default output stays small enough for a log-tail
parser to recover the JSON line intact.

Each query is timed to full materialization (noop-format write — same
work the correctness gate does, minus driver-side collection).

Headline timings are the MEDIAN OF 3 runs per query: single-shot
numbers mix first-touch costs (JIT, Arrow worker spin-up, parquet
footer caches) into whichever queries run early, which can fabricate
15%+ "regressions" that a second run disproves. The --all sweep runs
ONE UNTIMED WARM-UP per query (a single-run sweep otherwise times run 0
of cold mapInPandas stages, the ~5 s Python-worker spin-up) then a
single timed pass, promoting any query whose warm run exceeds 2 s to
median-of-3; every sample plus per-query warm-up seconds land in
BENCH_full_latest.json, and queries whose cold run exceeded 1.5x their
warm median are listed under "cold_start".

Seconds from different runs of this script drift up to ±40% between
windows on unchanged code (measured on a 4-core host); judge a
wall-time change with tools/ab.py, which interleaves old and new legs
of this script.

Each run executes under the Spark job group "bench:<name>:<i>". With
--all / --only, the last timed run of each query is read back from
Spark's own status stores into a per-query record (jobs, stages,
tasks, executor time, shuffle and spill bytes, SQL executions, the
executed plan-node counts, not counting a cached relation's plan, and
the classes codegen compiled), written under "records"; red_flags() is
the one check on it. Profile one query with
`python bench.py --only <name> --no-artifact`.
"""

from __future__ import annotations

import json
import os
import sys
import time

from py4j.protocol import Py4JJavaError, Py4JNetworkError

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from listenbrainz_server_spark.queries import load_all
from listenbrainz_server_spark.session import get_session

# The driver recovers the headline JSON from a bounded stdout tail
# (2,000 chars measured: a 1,695-char line parsed, a 2,280-char line
# recorded parsed:null). Budget the emitted line below that with
# headroom.
LINE_BUDGET = 1900


# Exit status of a run that lost its JVM. Once the Py4J gateway is gone
# every later query fails the same way, so the run stops at the first
# such error instead of recording each remaining name as a failure.
JVM_LOST = 3


def jvm_lost(e: BaseException | None) -> bool:
    """Whether ``e``, or an exception it was raised from, means the Py4J
    gateway to the JVM is gone."""
    while e is not None:
        if isinstance(e, (Py4JNetworkError, ConnectionRefusedError)):
            return True
        e = e.__cause__ or e.__context__
    return False


def headline_line(out: dict) -> str:
    """Serialize the headline JSON line, enforcing LINE_BUDGET chars.

    Progressive trim order if over budget: the aba verdict map (full
    adjudication lives in ABA_latest.json), then the per-query timings
    (value always survives). Dropped keys are recorded under "trimmed"
    so a reader knows the omission was deliberate.
    """
    line = json.dumps(out, separators=(",", ":"))
    for trim in ("aba", "queries"):
        if len(line) <= LINE_BUDGET:
            break
        if trim in out:
            out = {k: v for k, v in out.items() if k != trim}
            out["trimmed"] = out.get("trimmed", []) + [trim]
            line = json.dumps(out, separators=(",", ":"))
    return line


def codegen_compiles(spark) -> int:
    """Classes Spark's whole-stage and expression codegen has compiled
    in this JVM so far (a compile is a miss in its generated-class
    cache)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def record(spark, group: str, compiles_before: int | None = None) -> dict:
    """What the jobs of `group` executed, read from Spark's status
    stores: the AppStatusStore for jobs and stages, the
    SQLAppStatusStore for the plan graph of each SQL execution that ran
    one of those jobs (final plans: AQE re-plans update the graph).
    With `compiles_before`, codegen_compiles() read before the run,
    the record carries the classes the run compiled. Uses only pyspark
    and JVM APIs, so tools/ab.py can run it on old trees."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the stores lag the scheduler
    app = jsc.statusStore()
    job_ids = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    stage_ids, exec_ids = set(), set()
    for jid in job_ids:
        pair = app.jobWithAssociatedSql(jid)  # (JobData, Option[execution id])
        it = pair._1().stageIds().iterator()
        while it.hasNext():
            stage_ids.add(it.next())
        if pair._2().isDefined():
            exec_ids.add(pair._2().get())
    rec = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
           "executor_cpu_s": 0.0, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0,
           "sql_executions": len(exec_ids)}
    for sid in sorted(stage_ids):
        try:
            s = app.lastStageAttempt(sid)
        except Py4JJavaError:
            # Evicted, so skipped: past spark.ui.retainedStages the store
            # drops skipped stages first (they have no completion time),
            # and the run just read holds the newest executed ones.
            continue
        if s.status().toString() == "SKIPPED":  # output reused, nothing ran
            continue
        rec["stages"] += 1
        rec["tasks"] += s.numTasks()
        rec["executor_run_s"] += s.executorRunTime() / 1e3  # ms
        rec["executor_cpu_s"] += s.executorCpuTime() / 1e9  # ns
        rec["shuffle_read_bytes"] += s.shuffleReadBytes()
        rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
        rec["spill_bytes"] += s.diskBytesSpilled()
    rec["executor_run_s"] = round(rec["executor_run_s"], 2)
    rec["executor_cpu_s"] = round(rec["executor_cpu_s"], 2)
    sql = spark._jsparkSession.sharedState().statusStore()
    ops: dict[str, int] = {}
    for eid in sorted(exec_ids):
        for op in _executed_ops(sql.planGraph(eid)):
            ops[op] = ops.get(op, 0) + 1
    rec["ops"] = dict(sorted(ops.items()))
    if compiles_before is not None:
        rec["codegen_compiles"] = codegen_compiles(spark) - compiles_before
    return rec


def _executed_ops(graph) -> list[str]:
    """Operator names of a SparkPlanGraph, walked from its roots along
    its child -> parent edges. The walk stops at each InMemoryTableScan:
    the graph hangs the cached relation's plan below it, and that plan
    ran when the cache was filled, not in this execution."""
    names, children, has_parent = {}, {}, set()
    it = graph.allNodes().iterator()
    while it.hasNext():
        node = it.next()
        names[node.id()] = node.name().strip()
    it = graph.edges().iterator()
    while it.hasNext():
        edge = it.next()
        children.setdefault(edge.toId(), []).append(edge.fromId())
        has_parent.add(edge.fromId())
    todo, seen, ops = [i for i in names if i not in has_parent], set(), []
    while todo:
        i = todo.pop()
        if i in seen:
            continue
        seen.add(i)
        if not names[i].startswith("WholeStageCodegen"):  # wrappers, not operators
            ops.append(names[i])
        if names[i] != "InMemoryTableScan":
            todo.extend(children.get(i, ()))
    return ops


# MLlib's ALS recommendForAllUsers cross-joins blocks of the user and
# item factor matrices, and that blocked cross does execute (a
# CartesianProduct in its executed plan). Each side is a rank-wide
# factor block, so its cost is bounded by rank x block sizes: it is the
# blocked algorithm, not a planning miss.
CARTESIAN_OK = ("m_als_recommend",)


def red_flags(records: dict[str, dict]) -> list[str]:
    """The scale red flags in executed plans: any row-at-a-time Python
    UDF (BatchEvalPython), and any CartesianProduct outside
    CARTESIAN_OK."""
    flags = []
    for name, rec in sorted(records.items()):
        ops = rec.get("ops", {})
        if ops.get("BatchEvalPython"):
            flags.append(f"{name}: row-at-a-time Python UDF (BatchEvalPython)")
        if ops.get("CartesianProduct") and name not in CARTESIAN_OK:
            flags.append(f"{name}: CartesianProduct")
    return flags


# One per family; the expensive ones stay in so regressions in the
# heavy paths (ALS, cosine join, LSH re-rank, Arrow decode) are visible.
HEADLINE = (
    "a1_pricing_summary",
    "a4_count_distinct",
    "h_top_genres",
    "h_user_entity_stats",
    "h_troi_periodic_jams",
    "j13_explode_equi_join",
    "w1_topk_per_group",
    "d_minhash_lsh",
    "d_dup_groups",
    "v_lsh_topk",
    "v_cosine_topk",
    # r3: the serving default is the degree-capped plan; the uncapped
    # form survives only as the m_user_cosine_uncapped oracle fixture.
    "m_user_cosine_capped",
    "m_als_recommend",
    "t_token_stats",
    "x_salted_agg",
    "i_incremental_lifecycle",
    "mm_decode_features",
    "st_session_window",
)

# Families added after the r01 bench; kept separate so the historical
# total stays comparable ("value_comparable" = HEADLINE subtotal).
HEADLINE_NEW = (
    "v_pq_topk",
    "j_asof_join",
    "d_contamination",
    "t_repetition_signals",
    "t_sequence_pack",
    # r4 families: verbatim-span dedup, quantized ANN, epoch mixing,
    # histogram-CDF calibration.
    "d_exact_substring_pairs",
    "v_sq8_topk",
    "x_interleave_domains",
    "t_quality_calibrated_hist",
    # r4 session-3 families: RAG chunking, kNN label propagation,
    # MMR diversified re-rank, PMI collocations.
    "t_chunk_documents",
    "v_knn_classify",
    "v_mmr_rerank",
    "t_pmi_cooccurrence",
    # r5 families: verbatim-span extents, embedding decontamination,
    # Markov power iteration.
    "d_substring_spans",
    "v_semantic_contamination",
    "w_markov_power",
    # r6 families: nearest as-of, banded radius search, IVF-PQ,
    # growth accounting, perceptual-hash dedup, sparse lexical cosine.
    "j_asof_nearest",
    "v_range_search",
    "v_ivfpq_topk",
    "w_user_lifecycle",
    "mm_phash_dedup",
    # r9: the UNCAPPED t_tfidf_cosine_pairs left the headline set —
    # it is the exact all-pairs baseline, fixture-scale only
    # (measured 67x at 10x data); the capped form is the serving path.
    "t_tfidf_cosine_pairs_capped",
    # r7/r8 families: iterative graph, semantic dedup, CMS sketch,
    # Bloom runtime pruning, DSIR selection, CDC retraction merge,
    # triangle/clustering, EWMA, MAD outliers, two-tier deletion.
    "g_pagerank",
    "g_triangle_count",
    "d_semdedup",
    "x_heavy_hitters",
    "x_bloom_prune",
    "x_dsir_weights",
    "i_cdc_merge",
    "i_deletion_apply",
    "w_ewma",
    "w_mad_outliers",
    # r9 families: sessionized CDC retraction, sweep-line overlap
    # census (the 86x->2.8x fix), t-digest sketch quantiles, weighted
    # reservoir, content-defined chunking, aggregate-state erasure,
    # robust trend.
    "st_session_cdc",
    "j_overlap_census_sweep",
    "w_mad_tdigest",
    "x_reservoir_sample",
    "d_cdc_chunks",
    "i_retraction_combine",
    "w_theil_sen",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    run_all = "--all" in sys.argv
    # --only a,b,c: bench just those names with --all semantics and MERGE
    # the results into BENCH_full_latest.json (delta-mode endround — keeps
    # the at-head artifact invariant cheap per-registration instead of a
    # full ~4 min sweep; tests/test_artifacts.py enforces the coverage).
    only: list[str] = []
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1].split(",")
        run_all = True
    # --no-artifact: measure and print the JSON line but do NOT write /
    # merge BENCH_full_latest.json. Used by the tools/ab.py legs, whose
    # measurements are evidence about one code snapshot in one window;
    # merging them would mix deliberately different code into the
    # artifact of record.
    no_artifact = "--no-artifact" in sys.argv

    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    if only:
        unknown = [n for n in only if n not in registry]
        if unknown:
            raise SystemExit(f"--only names not in registry: {unknown}")
        names = only
    else:
        names = (
            sorted(registry)
            if run_all
            else [n for n in HEADLINE + HEADLINE_NEW if n in registry]
        )

    # Warm the JVM + parquet footers once so per-query numbers measure
    # query execution, not session cold-start.
    registry["a1_pricing_summary"].fn(spark, sf_dir).count()
    # Warm MLlib's ALS codepath too: the first fit in a fresh JVM pays
    # ~2-10 s of JIT that would otherwise be billed to whichever ALS
    # query runs first (measured: m_als_cv 11.0 s cold vs 8.5 s warm).
    from pyspark.ml.recommendation import ALS

    tiny = spark.createDataFrame(
        [(i % 7, i % 5, 1.0) for i in range(50)], "user int, item int, rating float"
    )
    ALS(maxIter=1, rank=2, seed=1, userCol="user", itemCol="item",
        ratingCol="rating").fit(tiny)

    # --all: ONE UNTIMED WARM-UP per query, then one timed pass; any
    # query over HEAVY_SECS (warm) gets two more runs and reports the
    # median, because a 1-run sweep cannot tell regression from noise
    # exactly where it matters, on the heavies. The warm-up absorbs the
    # ~5 s cold mapInPandas worker spin-up, which otherwise read as
    # 2-3x phantom regressions (mm_decode_features, g_pagerank); its
    # seconds are recorded per query (warmup_secs) and any query whose
    # cold run exceeds 1.5x its warm median is flagged in cold_start.
    runs = 1 if run_all else 3
    HEAVY_SECS = 2.0
    timings: dict[str, float] = {}
    samples_by_query: dict[str, list[float]] = {}
    warmup_by_query: dict[str, float] = {}
    records: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in names:
        samples: list[float] = []
        # Read after each run: nothing runs between two runs of a name,
        # so the last two readings bound the last run's compiles.
        compiles_after: list[int] = []

        def one_run(run: int | str) -> None:
            spark.sparkContext.setJobGroup(f"bench:{name}:{run}", name)
            t0 = time.time()
            df = registry[name].fn(spark, sf_dir)
            # Force full execution of every operator in the plan.
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
            compiles_after.append(codegen_compiles(spark))

        try:
            if run_all:
                one_run("warmup")
                warmup_by_query[name] = round(samples.pop(), 2)
            for i in range(runs):
                one_run(i)
            if run_all and samples[0] > HEAVY_SECS:
                one_run(runs)
                one_run(runs + 1)
            if run_all:
                records[name] = record(spark, f"bench:{name}:{len(samples) - 1}",
                                       compiles_after[-2])
            timings[name] = round(sorted(samples)[len(samples) // 2], 2)
            samples_by_query[name] = [round(s, 2) for s in samples]
        except Exception as e:  # noqa: BLE001 — one bad query must not kill the bench
            if jvm_lost(e):
                print(f"JVM lost at {name}: {str(e).splitlines()[0][:120]}")
                raise SystemExit(JVM_LOST) from e
            errors[name] = str(e).splitlines()[0][:120]
        # Per-query isolation: drop cached frames AND the Python refs
        # whose GC releases accumulated localCheckpoint RDD blocks —
        # without this, block-manager pressure from ~200 earlier
        # queries inflated the mid-alphabet ML heavies ~3x in the full
        # sweep (m_als_cv 25.3 s in-sweep vs 7.8 s fresh-session; the
        # same query, same code, same box).
        import gc as _gc

        spark.catalog.clearCache()
        _gc.collect()

    total = round(sum(timings.values()), 2)
    out = {
        "metric": "headline_query_wall_seconds" if not run_all else "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs_per_query": runs,
    }
    if run_all:
        out["records"] = records
        out["cold_start"] = {
            n: warmup_by_query[n]
            for n in sorted(timings)
            if n in warmup_by_query
            and warmup_by_query[n] > 1.5 * max(timings[n], 0.01)
        }
    if not run_all:
        out["value_comparable"] = round(
            sum(t for n, t in timings.items() if n in HEADLINE), 2
        )
    if errors:
        out["errors"] = errors
    if not run_all:
        # Attach the endround A/B verdicts (ABA_latest.json, written by
        # tools/endround.py) so the headline artifact of record carries
        # ab_confirmed per mover: a cross-window headline ratio alone
        # cannot tell a code effect from drift. head_moved
        # flags whether query-affecting paths changed since the A/B ran,
        # in which case it describes an older engine state.
        aba_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "ABA_latest.json"
        )
        if os.path.exists(aba_path):
            with open(aba_path) as f:
                aba = json.load(f)
            head_moved = True
            if aba.get("git_head"):
                import subprocess

                r = subprocess.run(
                    ["git", "diff", "--name-only", aba["git_head"], "HEAD",
                     "--", "listenbrainz_server_spark", "__spark_entry__.py",
                     "bench.py"],
                    cwd=os.path.dirname(os.path.abspath(__file__)),
                    capture_output=True, text=True,
                )
                head_moved = bool(r.returncode) or bool(r.stdout.strip())
            # Verdicts only ({name: ab_confirmed}) plus a pointer: the
            # per-mover legs pushed the line past the 2,000-char parse
            # window (LINE_BUDGET). Legs, ratios and heads stay in the file.
            out["aba"] = {
                "round": aba.get("round"),
                "head_moved": head_moved,
                "movers": {
                    n: bool(m.get("ab_confirmed"))
                    for n, m in aba.get("movers", {}).items()
                },
                "ref": "ABA_latest.json",
            }
    if run_all and not no_artifact:
        # Side artifact for regression tracking of the full registry —
        # the stdout line stays the headline parse target. Per-run
        # samples let a reader separate noise from regression without
        # re-running. query_window stamps WHEN each number was taken,
        # because a merged artifact mixes windows.
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BENCH_full_latest.json")
        window_id = time.strftime("%Y-%m-%dT%H:%M:%S")
        artifact = {
            **out,
            "samples": samples_by_query,
            "warmup_secs": warmup_by_query,
            "sf_dir": sf_dir,
            "query_window": {n: window_id for n in timings},
        }
        if only and os.path.exists(path):
            with open(path) as f:
                prior = json.load(f)
            if prior.get("sf_dir", sf_dir) != sf_dir:
                raise SystemExit(
                    f"--only merge refused: prior artifact sf_dir="
                    f"{prior.get('sf_dir')} != current {sf_dir}"
                )
            merged_q = {**prior.get("queries", {}), **timings}
            merged_s = {**prior.get("samples", {}), **samples_by_query}
            merged_wu = {**prior.get("warmup_secs", {}), **warmup_by_query}
            merged_r = {**prior.get("records", {}), **records}
            merged_cs = {
                n: w
                for n, w in merged_wu.items()
                if n in merged_q and w > 1.5 * max(merged_q[n], 0.01)
            }
            merged_e = {**prior.get("errors", {}), **errors}
            for n in timings:  # a now-passing query clears its old error
                merged_e.pop(n, None)
            merged_qw = {**prior.get("query_window", {}),
                         **{n: window_id for n in timings}}
            # Built from this run's keys, not the prior's, so fields an
            # older bench.py wrote do not ride along forever.
            artifact = {
                **out,
                "queries": merged_q,
                "samples": merged_s,
                "warmup_secs": merged_wu,
                "records": merged_r,
                "cold_start": merged_cs,
                "value": round(sum(merged_q.values()), 2),
                "merged": True,
                "sf_dir": sf_dir,
                "query_window": merged_qw,
            }
            if merged_e:
                artifact["errors"] = merged_e
            else:
                artifact.pop("errors", None)
        with open(path, "w") as f:
            json.dump(artifact, f, indent=1)
    if run_all:
        # The --all sweep's stdout is not the driver's parse target
        # (BENCH_full_latest.json is its artifact of record) — no
        # budget applies.
        print(json.dumps(out, separators=(",", ":")))
    else:
        print(headline_line(out))


if __name__ == "__main__":
    main()
