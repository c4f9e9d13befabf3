"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE compact JSON line: {"metric": ..., "value": total_sec, "unit":
"sec", "queries": {name: sec}, "sf": ...}.

The headline set is one representative per operator family (agg, join
pipeline, window, dedup/LSH, ANN, CF, text, skew, streaming-batch,
multimodal, incremental) — the full 100+ registry sweep is available
with --all, but the default output stays small enough for a log-tail
parser to recover the JSON line intact.

Each timed run forces full materialization with a noop-format write.

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

The sweep's warm-up is also the oracle gate: it collects the frame and,
outside the timed span, compares it with the query's DuckDB oracle the
way the driver's correctness gate does (row count, column names and an
order-insensitive value hash; oracle_verdict). The verdicts go on the
stdout line under "oracle", not into BENCH_full_latest.json;
tools/check.py makes the same comparison through the same functions.

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

import hashlib
import json
import os
import sys
import time

import duckdb
from py4j.protocol import Py4JJavaError, Py4JNetworkError

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from listenbrainz_server_spark.catalog import TPCH_TABLES, table_path
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

    If over budget, the per-query timings are dropped (value always
    survives) and "trimmed" records the omission, so a reader knows it
    was deliberate.
    """
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > LINE_BUDGET and "queries" in out:
        out = {k: v for k, v in out.items() if k != "queries"}
        out["trimmed"] = ["queries"]
        line = json.dumps(out, separators=(",", ":"))
    return line


def first_line(e: BaseException) -> str:
    """The first line of an error's message (a Java one runs on into its
    stack trace)."""
    return str(e).partition("\n")[0]


def canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        # repr keeps full precision; queries pre-round so this is stable.
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> tuple[str, list[str]]:
    """An order-insensitive value hash of a frame, and the sorted
    canonical rows it hashed: each row's values in column-name order,
    canonicalized to strings."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted("\x1f".join(canon_value(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\x1e".join(canon_rows).encode()).hexdigest(), canon_rows


def oracle_db(sf_dir: str):
    """A DuckDB connection with one view per TPCH_TABLES table at
    `sf_dir`; a table missing there has no view."""
    con = duckdb.connect()
    for t in TPCH_TABLES:
        p = table_path(sf_dir, t)
        # Two on-disk layouts: the driver's testdata is one file per
        # table; Spark-written scale dirs (tools/gen_scale.py,
        # .scale/sf1) are DIRECTORIES of part files, which DuckDB
        # reads through a glob.
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        try:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        except duckdb.Error:
            pass
    return con


def failed(what: str, e: BaseException) -> dict:
    """The "fail" verdict on a query whose `what` side ("spark" or
    "duckdb") raised `e`."""
    return {"status": "fail", "err": f"{what} error: {first_line(e)}"[:200]}


def oracle_verdict(con, oracle: str | None, cols: list[str],
                   rows: list[tuple], secs: float) -> dict:
    """The driver gate's verdict on one query's collected `cols` and
    `rows`: "pass" when the DuckDB `oracle` run on `con` gives the same
    column names, row count and frame_hash, "rows_only" when the query
    has no oracle, else "fail" with the reason in "err". `secs` is the
    Spark run's; a pass adds the oracle's."""
    if oracle is None:
        return {"status": "rows_only", "rows": len(rows), "secs": round(secs, 2)}
    t0 = time.time()
    try:
        res = con.execute(oracle)
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
    except Exception as e:  # noqa: BLE001 — any oracle error is a verdict
        return failed("duckdb", e)
    problems = []
    if sorted(cols) != sorted(d_cols):
        problems.append(f"cols spark={sorted(cols)} duck={sorted(d_cols)}")
    if len(rows) != len(d_rows):
        problems.append(f"rowcount spark={len(rows)} duck={len(d_rows)}")
    if not problems:
        s_hash, s_canon = frame_hash(cols, rows)
        d_hash, d_canon = frame_hash(d_cols, d_rows)
        if s_hash != d_hash:
            only_s = sorted(set(s_canon) - set(d_canon))[:3]
            only_d = sorted(set(d_canon) - set(s_canon))[:3]
            problems.append(f"hash mismatch; spark-only={only_s} duck-only={only_d}")
    if problems:
        return {"status": "fail", "err": " | ".join(problems)[:200]}
    return {"status": "pass", "rows": len(rows),
            "secs": round(secs + time.time() - t0, 2)}


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
    # The serving default is the degree-capped plan; the uncapped form
    # survives only as the m_user_cosine_uncapped oracle fixture.
    "m_user_cosine_capped",
    "m_als_recommend",
    "t_token_stats",
    "x_salted_agg",
    "i_incremental_lifecycle",
    "mm_decode_features",
    "st_session_window",
)

# Families added after the first bench; kept separate so the historical
# total stays comparable ("value_comparable" = HEADLINE subtotal).
HEADLINE_NEW = (
    "v_pq_topk",
    "j_asof_join",
    "d_contamination",
    "t_repetition_signals",
    "t_sequence_pack",
    # Verbatim-span dedup, quantized ANN, epoch mixing, histogram-CDF
    # calibration.
    "d_exact_substring_pairs",
    "v_sq8_topk",
    "x_interleave_domains",
    "t_quality_calibrated_hist",
    # RAG chunking, kNN label propagation, MMR diversified re-rank, PMI
    # collocations.
    "t_chunk_documents",
    "v_knn_classify",
    "v_mmr_rerank",
    "t_pmi_cooccurrence",
    # Verbatim-span extents, embedding decontamination, Markov power
    # iteration.
    "d_substring_spans",
    "v_semantic_contamination",
    "w_markov_power",
    # Nearest as-of, banded radius search, IVF-PQ, growth accounting,
    # perceptual-hash dedup, sparse lexical cosine.
    "j_asof_nearest",
    "v_range_search",
    "v_ivfpq_topk",
    "w_user_lifecycle",
    "mm_phash_dedup",
    # Not the UNCAPPED t_tfidf_cosine_pairs: it is the exact all-pairs
    # baseline, fixture-scale only (measured 67x at 10x data); the
    # capped form is the serving path.
    "t_tfidf_cosine_pairs_capped",
    # Iterative graph, semantic dedup, CMS sketch, Bloom runtime
    # pruning, DSIR selection, CDC retraction merge, triangle/clustering,
    # EWMA, MAD outliers, two-tier deletion.
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
    # Sessionized CDC retraction, sweep-line overlap census (the
    # 86x->2.8x fix), t-digest sketch quantiles, weighted reservoir,
    # content-defined chunking, aggregate-state erasure, robust trend.
    "st_session_cdc",
    "j_overlap_census_sweep",
    "w_mad_tdigest",
    "x_reservoir_sample",
    "d_cdc_chunks",
    "i_retraction_combine",
    "w_theil_sen",
)


# The per-query maps of BENCH_full_latest.json. Per-run samples let a
# reader separate noise from regression without re-running;
# query_window stamps WHEN each number was taken, because a merged
# artifact mixes windows.
PER_QUERY = ("queries", "samples", "warmup_secs", "records", "query_window", "errors")


def write_artifact(run: dict, sf_dir: str, merge: bool) -> None:
    """Write BENCH_full_latest.json, the side artifact that tracks the
    full registry: this sweep's `run`, with each PER_QUERY map merged
    over the prior artifact's when `merge` (--only). The other fields
    come from this run alone, so fields an older bench.py wrote do not
    ride along forever."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BENCH_full_latest.json")
    prior = {}
    if merge and os.path.exists(path):
        with open(path) as f:
            prior = json.load(f)
        if prior.get("sf_dir", sf_dir) != sf_dir:
            raise SystemExit(f"--only merge refused: prior artifact sf_dir="
                             f"{prior.get('sf_dir')} != current {sf_dir}")
    art = {**run, "sf_dir": sf_dir}
    for key in PER_QUERY:
        art[key] = {**prior.get(key, {}), **run[key]}
    for n in run["queries"]:  # a now-passing query clears its old error
        art["errors"].pop(n, None)
    if not art["errors"]:
        del art["errors"]
    queries = art["queries"]
    art["value"] = round(sum(queries.values()), 2)
    art["cold_start"] = {n: w for n, w in sorted(art["warmup_secs"].items())
                         if n in queries and w > 1.5 * max(queries[n], 0.01)}
    if merge:
        art["merged"] = True
    with open(path, "w") as f:
        json.dump(art, f, indent=1)


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
    # The warm-up collects the frame, and outside the timed span its
    # rows are checked against the query's oracle.
    runs = 1 if run_all else 3
    HEAVY_SECS = 2.0
    con = oracle_db(sf_dir) if run_all else None
    timings: dict[str, float] = {}
    samples_by_query: dict[str, list[float]] = {}
    warmup_by_query: dict[str, float] = {}
    records: dict[str, dict] = {}
    errors: dict[str, str] = {}
    oracle: dict[str, dict] = {}
    for name in names:
        samples: list[float] = []
        # Read after each run: nothing runs between two runs of a name,
        # so the last two readings bound the last run's compiles.
        compiles_after: list[int] = []

        def one_run(run: int | str) -> tuple[list[str], list[tuple]] | None:
            """One run under its job group. The warm-up collects the frame
            and returns its columns and rows for the oracle check."""
            spark.sparkContext.setJobGroup(f"bench:{name}:{run}", name)
            t0 = time.time()
            df = registry[name].fn(spark, sf_dir)
            result = None
            if run == "warmup":
                result = df.columns, [tuple(r) for r in df.collect()]
            else:  # Force full execution of every operator in the plan.
                df.write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
            compiles_after.append(codegen_compiles(spark))
            return result

        try:
            if run_all:
                cols, rows = one_run("warmup")
                warmup_by_query[name] = round(samples.pop(), 2)
                oracle[name] = oracle_verdict(con, registry[name].oracle, cols,
                                              rows, warmup_by_query[name])
                del rows  # not held through the timed runs
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
                print(f"JVM lost at {name}: {first_line(e)[:120]}")
                raise SystemExit(JVM_LOST) from e
            errors[name] = first_line(e)[:120]
            oracle.setdefault(name, failed("spark", e))
        # Per-query isolation: drop cached frames AND the Python refs
        # whose GC releases accumulated localCheckpoint RDD blocks —
        # without this, block-manager pressure from ~200 earlier
        # queries inflated the mid-alphabet ML heavies ~3x in the full
        # sweep (m_als_cv 25.3 s in-sweep vs 7.8 s fresh-session; the
        # same query, same code, same box).
        import gc as _gc

        spark.catalog.clearCache()
        _gc.collect()

    out = {
        "metric": "headline_query_wall_seconds" if not run_all else "total_query_wall_seconds",
        "value": round(sum(timings.values()), 2),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs_per_query": runs,
    }
    if errors:
        out["errors"] = errors
    if not run_all:
        out["value_comparable"] = round(
            sum(t for n, t in timings.items() if n in HEADLINE), 2
        )
        print(headline_line(out))
        return
    out["records"] = records
    if not no_artifact:
        window_id = time.strftime("%Y-%m-%dT%H:%M:%S")
        write_artifact({**out, "errors": errors, "samples": samples_by_query,
                        "warmup_secs": warmup_by_query,
                        "query_window": {n: window_id for n in timings}},
                       sf_dir, merge=bool(only))
    # The --all sweep's stdout is not the driver's parse target
    # (BENCH_full_latest.json is its artifact of record): no budget
    # applies.
    print(json.dumps({**out, "oracle": oracle}, separators=(",", ":")))


if __name__ == "__main__":
    main()
