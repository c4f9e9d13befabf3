"""Request-path benchmark: one closed-loop client driving the engine's
public calls the way the ListenBrainz request consumer does.

    python3 reqbench/run.py --workload stats_small --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it holds the run's
diagnostics. Workloads, metrics and the layer map are in README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import random
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import measure  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("stats_small", "stats_export", "incremental_ingest")

# Warm-up: WARM_ROUNDS untimed rounds of the workload's own requests.
# On a cold JVM the first round costs about three warmed ones; CPU per
# request then falls by 10-20% a round for three more rounds and keeps
# drifting down slowly after that. The count is fixed: a
# stop-when-level rule ended warm-up after a different number of rounds
# from run to run, and the timed phase then started from JVMs at
# different stages of warming. Three rounds is what the run budget of the
# two measured workloads affords; the medians over the timed phase absorb
# its slower first pass.
WARM_ROUNDS = 3
LEVEL_SHARE = 0.10

# Warmed seconds per request on a 4-core host. They turn --seconds into
# a fixed number of timed requests; the timed phase is never a time box.
NOMINAL_REQUEST_S = {
    "stats_small": 0.45,
    "stats_export": 1.2,
    "incremental_ingest": 0.8,
}
MIN_REQUESTS = 20  # so the tail percentile keeps 10 samples beyond it
INGEST_WARM_FOLDS = 4


@dataclass(frozen=True)
class Request:
    name: str
    params: tuple = ()
    chunk: int = 25

    @property
    def key(self) -> str:
        args = ",".join(f"{k}={v}" for k, v in self.params)
        return f"{self.name}({args})"

    @property
    def message_type(self) -> str:
        return self.name.split(".", 1)[1].replace(".", "_")


# Chunk sizes are messages.CHUNK_USER_STATS (25) and CHUNK_LISTENER_STATS
# (5000); importing the engine here would fix its CPU count before main()
# sets SPARK_GRAFT_CPUS.
def _r(name: str, stats_range: str | None = None, chunk: int = 25) -> Request:
    return Request(name, (("stats_range", stats_range),) if stats_range else (), chunk)


# Small results over the cached catalog: dispatch, planning and job
# scheduling dominate, the message drain is short.
STATS_SMALL = (
    _r("stats.user.entity", "week"),
    _r("stats.sitewide.entity", "month"),
    _r("stats.sitewide.entity", "year"),
    _r("stats.sitewide.listening_activity", "month"),
    _r("stats.entity.listeners", "week", chunk=5000),
    _r("stats.user.genre_activity", "week"),
    _r("stats.user.genre_activity", "all_time"),
    _r("popularity.popularity", chunk=5000),
    _r("year_in_music.day_of_week"),
)

# Nightly all-user stats with the catalog cache off (the scan path every
# table takes once it outgrows the cache gate): results of tens of
# thousands of rows make the message drain ~40% of latency.
STATS_EXPORT = (
    _r("stats.user.entity", "all_time"),
    _r("stats.user.daily_activity"),
    _r("stats.user.listening_activity"),
    _r("stats.entity.listeners", "all_time", chunk=5000),
)


@dataclass
class Sample:
    """Timestamps (perf_counter seconds) and outcome of one request."""

    key: str
    start: float
    exec_start: float = 0.0  # dispatch returned / final stats planned
    first: float = 0.0
    last: float = 0.0
    end: float = 0.0  # after the client's bookkeeping for the request
    rows: int = 0
    ok: bool = True
    traced: bool = False
    fold: tuple[float, float] | None = None  # advance_partial call
    counts: dict = field(default_factory=dict)

    @property
    def latency(self) -> float:
        return self.last - self.start


class Bench:
    def __init__(self, args, work: str, data: dict):
        from listenbrainz_server_spark.session import get_session

        self.args = args
        self.work = work
        self.data = data
        self.trace = measure.Trace()
        self.first: dict[str, tuple[str, list[str] | None]] = {}
        self.check_wall = 0.0
        self.check_cpu = 0.0
        self.layer: dict[str, float] = {}
        t = time.perf_counter()
        self.spark = get_session(
            "reqbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
        )
        self.layer["session.start_s"] = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")

    # -- checks --------------------------------------------------------
    def _check(self, key: str, messages, message_type: str, chunk: int, keep: bool) -> bool:
        """Canonicalise a response and compare it with the first response
        to the same request. Its cost is kept out of the timings."""
        w, c = time.perf_counter(), time.process_time()
        framed = all(m["type"] == message_type for m in messages) and all(
            len(m["data"]) == chunk for m in messages[:-1]
        )
        rows = oracle.canonical_rows(messages)
        d = oracle.digest(rows)
        if key not in self.first:
            self.first[key] = (d, rows if keep else None)
        ok = framed and bool(rows) and self.first[key][0] == d
        self.check_wall += time.perf_counter() - w
        self.check_cpu += time.process_time() - c
        return ok

    @staticmethod
    def _drain(s: Sample, df, chunk: int, message_type: str) -> list[dict]:
        """Stream ``df`` as messages, stamping the first and last."""
        from listenbrainz_server_spark.messages import iter_message_chunks

        messages = []
        for m in iter_message_chunks(df, chunk, message_type):
            if not messages:
                s.first = time.perf_counter()
            messages.append(m)
        s.last = time.perf_counter()
        s.first = s.first or s.last
        return messages

    def _finish(self, s: Sample, messages, message_type: str, chunk: int, keep: bool) -> Sample:
        s.end = time.perf_counter()
        s.rows = sum(len(m["data"]) for m in messages)
        if s.ok:
            s.ok = self._check(s.key, messages, message_type, chunk, keep)
        return s

    # -- stats requests ------------------------------------------------
    def stats_request(self, req: Request, rid: str, traced: bool) -> Sample:
        from listenbrainz_server_spark.plans.api import dispatch

        s = Sample(req.key, time.perf_counter(), traced=traced)
        messages = []
        try:
            if traced:
                self.sc.setJobGroup(f"{rid}-dispatch", req.key)
            df = dispatch(req.name, self.spark, self.data["dir"], **dict(req.params))
            s.exec_start = time.perf_counter()
            if traced:
                self.sc.setJobGroup(f"{rid}-exec", req.key)
            messages = self._drain(s, df, req.chunk, req.message_type)
        except Exception:
            traceback.print_exc()
            s.ok = False
            s.first = s.last = s.exec_start = s.exec_start or time.perf_counter()
        if traced:
            s.counts = {
                "dispatch": measure.count_jobs(self.sc, f"{rid}-dispatch"),
                "exec": measure.count_jobs(self.sc, f"{rid}-exec"),
            }
            self.trace.span(rid, "request", None, s.start, s.last)
            self.trace.span(rid, "dispatch", "request", s.start, s.exec_start)
            self.trace.span(rid, "exec", "request", s.exec_start, s.first)
            self.trace.span(rid, "drain", "request", s.first, s.last)
            self.trace.counts[rid] = s.counts
        return self._finish(
            s, messages, req.message_type, req.chunk, keep=req.name in oracle.ORACLES
        )

    # -- incremental folds --------------------------------------------
    def fold(self, engine, stat, day: int, rid: str, traced: bool) -> Sample:
        from listenbrainz_server_spark.messages import CHUNK_USER_STATS
        from listenbrainz_server_spark.operators.joins import semi_join
        from listenbrainz_server_spark.plans.incremental_stats import final_user_entity_stats

        key = f"fold(day={day})"
        path = self.data["deltas"][day]
        s = Sample(key, time.perf_counter(), traced=traced)
        messages = []
        try:
            if traced:
                self.sc.setJobGroup(f"{rid}-fold", key)
            delta = engine.delta_aggregate(stat, self.spark.read.parquet(path))
            combined = engine.combine(stat, delta)
            f0 = time.perf_counter()
            partial = engine.advance_partial(stat, combined, created=f"day-{day:02d}")
            f1 = time.perf_counter()
            s.fold = (f0, f1)
            if traced:
                self.sc.setJobGroup(f"{rid}-final", key)
            affected = delta.select("user_id").distinct()
            final = final_user_entity_stats(semi_join(partial, affected, ["user_id"]))
            s.exec_start = time.perf_counter()
            messages = self._drain(s, final, CHUNK_USER_STATS, "user_entity")
        except Exception:
            traceback.print_exc()
            s.ok = False
            s.first = s.last = s.exec_start = time.perf_counter()
            s.fold = s.fold or (s.start, s.start)
        if traced:
            s.counts = {
                "fold": measure.count_jobs(self.sc, f"{rid}-fold"),
                "final": measure.count_jobs(self.sc, f"{rid}-final"),
            }
            f0, f1 = s.fold
            self.trace.span(rid, "request", None, s.start, s.last)
            self.trace.span(rid, "delta", "request", s.start, f0)
            self.trace.span(rid, "fold", "request", f0, f1)
            self.trace.span(rid, "final", "request", f1, s.first)
            self.trace.span(rid, "exec", "final", s.exec_start, s.first)
            self.trace.span(rid, "drain", "request", s.first, s.last)
            self.trace.counts[rid] = s.counts
        return self._finish(s, messages, "user_entity", CHUNK_USER_STATS, keep=False)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def warm_up(run_round) -> tuple[list[float], bool]:
    """Run WARM_ROUNDS rounds of untimed requests. Returns the CPU
    seconds per request of each round, and whether the last two rounds
    agree within LEVEL_SHARE."""
    curve: list[float] = []
    for r in range(WARM_ROUNDS):
        c0 = measure.tree_cpu_s()
        n = run_round(r)
        curve.append((measure.tree_cpu_s() - c0) / n)
    return curve, abs(curve[-1] - curve[-2]) <= LEVEL_SHARE * curve[-2]


def timed_count(workload: str, seconds: int, mix_size: int = 1) -> int:
    """Timed requests for ``seconds``, rounded up to whole passes over a
    mix of ``mix_size`` requests so that every request kind is timed
    equally often."""
    n = max(MIN_REQUESTS, round(seconds / NOMINAL_REQUEST_S[workload]))
    return -(-n // mix_size) * mix_size


def _kind_medians(samples: list[Sample], value) -> dict[str, float]:
    kinds = sorted({s.key for s in samples})
    return {k: measure.median(value(s) for s in samples if s.key == k) for k in kinds}


def mix_median(samples: list[Sample], value, by_kind: bool) -> float:
    """With ``by_kind``, the median of ``value`` over each request kind,
    averaged over the kinds; otherwise the median over all samples.

    A pooled median over a mix of request kinds with different costs
    falls on whichever kind's values happen to straddle the middle
    rank, and small shifts move it from one kind to another; the mean
    of per-kind medians moves smoothly with each kind's cost."""
    if not by_kind:
        return measure.median(value(s) for s in samples)
    return _mean(_kind_medians(samples, value).values())


def mix_tail(samples: list[Sample], by_kind: bool) -> tuple[int, float]:
    """(percentile, latency) of the tail that keeps ten samples beyond
    it. With ``by_kind``, the tail is taken over each request's excess
    over the median latency of its kind and added to ``mix_median``:
    how much later than usual a slow request of the mix finishes. A
    pooled tail over kinds of different cost would fall on the boundary
    between kinds instead."""
    if not by_kind:
        return measure.tail([s.latency for s in samples])
    med = _kind_medians(samples, lambda s: s.latency)
    p, excess = measure.tail([s.latency - med[s.key] for s in samples])
    return p, _mean(med.values()) + excess


def stats_sequence(mix, n: int, rng: random.Random) -> list[Request]:
    """``n`` requests: seeded permutations of the mix, back to back."""
    seq: list[Request] = []
    while len(seq) < n:
        perm = list(mix)
        rng.shuffle(perm)
        seq.extend(perm)
    return seq[:n]


def run_stats(b: Bench, mix, cached: bool, n: int):
    """Fill the cache (``cached``) and warm up; returns the warm-up
    curve, the timed phase and the DuckDB check of its responses."""
    from listenbrainz_server_spark import catalog

    scan = contextlib.nullcontext if cached else catalog.cache_disabled
    seq = stats_sequence(mix, n, random.Random(b.args.seed))
    warm_rng = random.Random(b.args.seed + 1)
    if cached:
        t = time.perf_counter()
        catalog.load_table(b.spark, b.data["dir"], "events").count()
        b.layer["catalog.cache_fill_s"] = time.perf_counter() - t

    def warm_round(r: int) -> int:
        for i, req in enumerate(stats_sequence(mix, len(mix), warm_rng)):
            b.stats_request(req, f"w{r}-{i}", traced=False)
        return len(mix)

    def timed():
        # In a traced run every other pass over the mix is traced.
        with scan():
            return [
                b.stats_request(req, f"t{i}", traced=bool(b.args.trace) and (i // len(mix)) % 2 == 1)
                for i, req in enumerate(seq)
            ]

    def verify(samples) -> None:
        """Fail every response to a request whose first response differs
        from the DuckDB reference."""
        for key, (_digest, rows) in b.first.items():
            if rows is None:
                continue
            name, _, arg = key.partition("(")
            stats_range = arg.rstrip(")").partition("=")[2] or None
            if rows != oracle.ORACLES[name](b.data["events"], stats_range):
                print(f"reqbench: {key} differs from the DuckDB reference", file=sys.stderr)
                for s in samples:
                    s.ok = s.ok and s.key != key

    with scan():
        warm = warm_up(warm_round)
    return warm, timed, verify


def _tree_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(root, name))
            files += 1
    return size, files


def run_ingest(b: Bench, n: int):
    """Build the seed partial and warm up; returns the warm-up curve,
    the timed folds, the recompute check and the fold counters."""
    from listenbrainz_server_spark.incremental.engine import IncrementalEngine
    from listenbrainz_server_spark.plans.incremental_stats import user_entity_stat

    n = min(n, len(b.data["deltas"]))
    stat = user_entity_stat()
    seed_dir = os.path.join(b.work, "state-seed")
    IncrementalEngine(b.spark, seed_dir).create_partial(
        stat, b.spark.read.parquet(b.data["base"]), "2002-01-01", "2100-01-01", "base"
    )

    def fresh(name: str) -> IncrementalEngine:
        d = os.path.join(b.work, name)
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(seed_dir, d)
        return IncrementalEngine(b.spark, d)

    def warm_round(r: int) -> int:
        engine = fresh("state-warm")
        for day in range(INGEST_WARM_FOLDS):
            b.fold(engine, stat, day, f"w{r}-{day}", traced=False)
        return INGEST_WARM_FOLDS

    warm = warm_up(warm_round)
    engine = fresh("state")
    agg_dir = os.path.join(engine.state_dir, stat.name)
    folds = {"bytes": 0, "files": 0, "rows": 0, "delta_keys": 0, "delta_bytes": 0}

    def timed():
        import pyarrow.parquet as pq

        samples = []
        for day in range(n):
            s = b.fold(engine, stat, day, f"t{day}", traced=bool(b.args.trace) and day % 2 == 1)
            w, c = time.perf_counter(), time.process_time()
            size, files = _tree_bytes(agg_dir)
            folds["bytes"] += size
            folds["files"] += files
            folds["rows"] += sum(
                pq.ParquetFile(os.path.join(agg_dir, "aggregate", f)).metadata.num_rows
                for f in os.listdir(os.path.join(agg_dir, "aggregate"))
                if f.endswith(".parquet")
            )
            folds["delta_bytes"] += os.path.getsize(b.data["deltas"][day])
            b.check_wall += time.perf_counter() - w
            b.check_cpu += time.process_time() - c
            samples.append(s)
        return samples

    def verify(samples) -> None:
        bad = oracle.partial_mismatches(
            os.path.join(agg_dir, "aggregate"), [b.data["base"], *b.data["deltas"][:n]]
        )
        if bad:
            print(f"reqbench: persisted partial differs from the recompute in {bad} rows",
                  file=sys.stderr)
            samples[-1].ok = False
        folds["delta_keys"] = sum(oracle.delta_keys(p) for p in b.data["deltas"][:n])

    return warm, timed, verify, folds


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(b: Bench, samples: list[Sample], folds: dict | None) -> dict:
    traced = [s for s in samples if s.traced and s.ok]
    plain = [s for s in samples if not s.traced and s.ok]
    lat = sum(s.latency for s in traced)
    drain = [s.last - s.first for s in traced]
    exec_ = [s.first - s.exec_start for s in traced]
    counts = [s.counts for s in traced]

    def total(kind: str) -> list[int]:
        return [sum(c[g][kind] for g in c) for c in counts]

    ingest = folds is not None
    dispatch = [] if ingest else [s.exec_start - s.start for s in traced]
    cache_bytes, cache_parts = measure.cached_storage(b.sc)
    rps = {
        side: len(xs) / sum(s.end - s.start for s in xs) for side, xs in (("u", plain), ("t", traced))
    }
    m = {
        "session.start_s": b.layer["session.start_s"],
        "catalog.cache_fill_s": b.layer.get("catalog.cache_fill_s", 0.0),
        "catalog.cached_partitions": cache_parts,
        "plans.api.dispatch_p50_s": measure.median(dispatch) if dispatch else 0.0,
        "plans.api.dispatch_share": sum(dispatch) / lat,
        "plans.api.dispatch_jobs_per_request": (
            0.0 if ingest else _mean(c["dispatch"]["jobs"] for c in counts)
        ),
        "operators.exec_p50_s": measure.median(exec_),
        "operators.jobs_per_request": _mean(total("jobs")),
        "operators.stages_per_request": _mean(total("stages")),
        "operators.tasks_per_request": _mean(total("tasks")),
        "messages.drain_p50_s": measure.median(drain),
        "messages.drain_share": sum(drain) / lat,
        "messages.rows_per_request": _mean(s.rows for s in samples),
        "messages.us_per_row": 1e6 * sum(drain) / max(1, sum(s.rows for s in traced)),
        "incremental.fold_p50_s": 0.0,
        "incremental.state_bytes_per_fold": 0.0,
        "incremental.state_files_per_fold": 0.0,
        "incremental.rewrite_useful_share": 0.0,
        "incremental_stats.final_p50_s": 0.0,
        "write_amplification": 0.0,
        "cache_bytes": cache_bytes,
        "trace.overhead_ratio": rps["u"] / rps["t"],
    }
    if ingest:
        n = len(samples)
        m.update(
            {
                "incremental.fold_p50_s": measure.median(s.fold[1] - s.fold[0] for s in traced),
                "incremental.state_bytes_per_fold": folds["bytes"] / n,
                "incremental.state_files_per_fold": folds["files"] / n,
                "incremental.rewrite_useful_share": folds["delta_keys"] / folds["rows"],
                "incremental_stats.final_p50_s": measure.median(s.first - s.fold[1] for s in traced),
                "write_amplification": folds["bytes"] / folds["delta_bytes"],
            }
        )
    return m


UNITS = {
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "first_message_p50_s": "s",
    "requests_per_s": "1/s",
    "cpu_s_per_request": "s",
    "setup_s": "s",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_share") or name.endswith("_ratio") or name == "write_amplification":
        return "ratio"
    if name == "messages.us_per_row":
        return "us"
    if name.endswith("bytes") or "bytes_per" in name:
        return "bytes"
    return "count"


def run(args, work: str) -> dict:
    data_dir = os.path.join(work, "data")
    t = time.perf_counter()
    data = gen.write_dataset(data_dir, args.seed)
    gen_s = time.perf_counter() - t
    ingest = args.workload == "incremental_ingest"
    mix = STATS_SMALL if args.workload == "stats_small" else STATS_EXPORT
    n = timed_count(args.workload, args.seconds, 1 if ingest else len(mix))

    setup0 = time.perf_counter()
    b = Bench(args, work, data)
    try:
        folds = None
        if ingest:
            warm, timed, verify, folds = run_ingest(b, n)
        else:
            warm, timed, verify = run_stats(b, mix, cached=args.workload == "stats_small", n=n)
        setup_s = time.perf_counter() - setup0

        host0, cpu0, wall0 = measure.host_cpu_ticks(), measure.tree_cpu_s(), time.perf_counter()
        b.check_wall = b.check_cpu = 0.0
        samples = timed()
        wall = time.perf_counter() - wall0 - b.check_wall
        cpu = measure.tree_cpu_s() - cpu0 - b.check_cpu
        steal = measure.steal_share(host0, measure.host_cpu_ticks())

        verify(samples)
        layers = layer_metrics(b, samples, folds) if args.trace else None
    finally:
        b.stop()

    failed = sum(not s.ok for s in samples)
    tail_p, tail_v = mix_tail(samples, not ingest)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": mix_median(samples, lambda s: s.latency, not ingest),
        "latency_tail_s": tail_v,
        "first_message_p50_s": mix_median(samples, lambda s: s.first - s.start, not ingest),
        "requests_per_s": len(samples) / wall,
        "cpu_s_per_request": cpu / len(samples),
    }
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "steal_share": steal,
        "requests": len(samples),
        "latency_tail_percentile": tail_p,
        "latency_tail_n": len(samples),
        "warmup_cpu_s_per_request": warm[0],
        "warmup_leveled": warm[1],
        "latency_p50_s_by_request": _kind_medians(samples, lambda s: s.latency),
        "generate_s": gen_s,
        "data": {k: v for k, v in data.items() if k not in ("dir", "events", "base", "deltas")},
        "delta_days": len(data["deltas"]),
        "end_to_end": e2e,
    }
    if args.trace:
        diag["self_time_p50_s"] = {
            k: measure.median(v) for k, v in b.trace.self_times().items()
        }
        diag["per_layer"] = layers
        path = os.path.join(ROOT, ".reqbench_work", "traces", f"{args.workload}-{args.seed}.json")
        b.trace.write(path, diag)
        diag["trace_file"] = os.path.relpath(path, ROOT)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    return {
        "diag": diag,
        "result": {
            "correct": failed == 0,
            "attempted": len(samples),
            "failed": failed,
            "metrics": metrics,
        },
    }


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("listenbrainz_server_spark") is None:
        print(f"reqbench: no listenbrainz_server_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".reqbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Read by session.get_session; keep every file the run writes
    # inside the checkout.
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out["diag"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
