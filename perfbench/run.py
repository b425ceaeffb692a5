#!/usr/bin/env python3
"""Closed-loop benchmark of the arcadedb_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One process runs one workload (see
workloads.SPECS and README.md) over the fixed seed-42 tables under
``perfbench/fixtures/``: it starts a local[nproc/2] session, runs a cold
pass over one round of ops, then a timed window of whole rounds, checks every
result outside the timed window (DuckDB oracles / a write model), and
prints a report line followed by the result line, which is always last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (END_TO_END); ``--trace 1``
alternates traced and untraced rounds and reports the per-layer metrics
(PER_LAYER), including the tracing overhead.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

END_TO_END = (
    ("setup_s", "s"),
    ("cold_pass_s", "s"),
    ("ops_per_s", "ops/s"),
    ("latency_p50_ms", "ms"),
    ("latency_p90_ms", "ms"),
    ("cache_mb_end", "MB"),
    ("peak_rss_mb", "MB"),
)
# module span names that build_ms / py4j_calls are reported for
SKINS = ("sql.translator", "graph.match", "graph.cypher", "graph.gremlin",
         "sql.mongo", "graphql.engine")
OPERATORS = ("dedup", "text", "vector", "timeseries")
MODULES = ("sql.parser", *SKINS, "graph.traverse", "graph.algorithms", *OPERATORS,
           "sql.commands", "kv")
PER_LAYER = (
    ("session.start_s", "s"),
    ("database.open_s", "s"),
    ("catalog.first_touch_ms", "ms"),
    ("sql.parser.parse_ms", "ms"),
    ("sql.translator.build_jobs", "count"),
    *[(f"{m}.{f}", u) for m in SKINS for f, u in (("build_ms", "ms"), ("py4j_calls", "count"))],
    ("graph.traverse.call_ms", "ms"),
    ("graph.traverse.jobs", "count"),
    ("graph.algorithms.call_ms", "ms"),
    ("graph.algorithms.jobs", "count"),
    ("graph.algorithms.stages", "count"),
    ("graph.algorithms.persist_calls", "count"),
    ("graph.algorithms.unpersist_calls", "count"),
    ("graph.algorithms.truncate_calls", "count"),
    *[(f"{m}.{f}", u) for m in OPERATORS
      for f, u in (("build_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"))],
    ("spark.cache_entries", "count"),
    ("spark.cache_hit", "ratio"),
    ("sql.commands.exec_ms", "ms"),
    ("sql.commands.jobs", "count"),
    ("sql.commands.cache_entries_delta", "count"),
    ("kv.call_ms", "ms"),
    ("spark.plan_ms", "ms"),
    ("spark.exec_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.scan_bytes", "bytes"),
    ("spark.rows_out", "count"),
    ("py4j.calls", "count"),
    ("background.py4j_calls", "count"),
    ("trace.overhead_pct", "%"),
    ("trace.selftime_gap_pct", "%"),
)
# driver JVM heap (the engine's default is 8g), committed and touched at
# start: with the collector free to grow an 8g heap as it likes, peak RSS
# ranged from 1.7 to 3.1 GB between seeds.  The heap's own use is in the
# report.
HEAP = "1g"
MB = 1024 * 1024


def pct(xs, q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile (q in [0, 1]): a mean of
    all order statistics weighted by the Beta(q(n+1), (1-q)(n+1))
    probability of each one's slot.  A run holds 18-81 timed ops, and this
    estimate moves less from run to run than any single order statistic
    would.  The Beta CDF is integrated numerically (midpoint rule)."""
    import numpy as np

    xs = np.sort(np.asarray(xs, dtype=float))
    n = len(xs)
    if n == 0:
        return 0.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    grid = 20_000
    t = (np.arange(grid) + 0.5) / grid
    logpdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(logpdf - logpdf.max()))))
    cdf /= cdf[-1]
    w = np.diff(cdf[np.round(np.arange(n + 1) / n * grid).astype(int)])
    return float(w @ xs)


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def source_commit() -> str:
    """The commit when the checkout is a git tree, else a digest of the
    engine sources."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            return subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "arcadedb_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def process_age_s() -> float:
    """Seconds since this process started (its start time from /proc, so
    interpreter start and imports count; 10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def jvm_heap_mb(spark) -> dict:
    """Driver JVM heap in MB: the peak used bytes of its pools, summed,
    and the bytes still used after a full collection (what the run's state
    retains)."""
    jvm = spark._jvm
    pools = [p for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
             if p.getType().name() == "HEAP"]
    peak = sum(p.getPeakUsage().getUsed() for p in pools) / MB
    jvm.System.gc()
    live = sum(p.getUsage().getUsed() for p in pools) / MB
    return {"peak": peak, "live_after_gc": live}


def cpu_ticks() -> tuple:
    """(steal, total) jiffies of all CPUs from /proc/stat: steal is time
    the hypervisor ran another guest on a CPU this one wanted."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def cpu_probe_ms() -> float:
    """Median time of a fixed pure-Python loop: a reading of host speed to
    set beside the run's timings (a busy neighbour slows it)."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        sum(range(2_000_000))
        times.append((time.perf_counter() - t) * 1000.0)
    return statistics.median(times)


def join_prewarm(timeout: float = 60.0) -> None:
    """Wait for the engine's background prewarm threads (they can start
    one another, so loop until none is alive)."""
    deadline = time.perf_counter() + timeout
    while time.perf_counter() < deadline:
        alive = [t for t in threading.enumerate()
                 if t.name.startswith("arcadedb-") and t.is_alive()]
        if not alive:
            return
        for t in alive:
            t.join(max(0.0, deadline - time.perf_counter()))


class Bench:
    def __init__(self, args, sf: float, data_dir: str) -> None:
        self.args = args
        self.sf = sf
        self.data_dir = data_dir
        self.spec = workloads.SPECS[args.workload]
        self.records: list = []
        self.op_ids = itertools.count(1)
        self.tracer = None
        self.round_log: list = []  # (phase, seconds, records) of each window round

    # -- one op ----------------------------------------------------------------
    def run_op(self, op, client: int, phase: str) -> dict:
        from pyspark.sql import DataFrame

        from ops import BUILD_LAYER, Eager
        from tracing import cache_entries, is_cached

        tr = self.tracer
        traced = tr is not None and tr.enabled
        oid = next(self.op_ids)
        rec = {"id": oid, "op": op, "client": client, "phase": phase}
        if traced:
            with tr.quiet():
                rec["cache_before"] = cache_entries(self.spark)
        obj = None
        t0 = time.perf_counter()
        try:
            if traced:
                # the op's root span holds t0..t3, so its self time plus its
                # children's adds up to the latency and the cache probe
                with tr.span(op.kind, op=oid):
                    t0 = time.perf_counter()
                    with tr.span(BUILD_LAYER[op.kind]):
                        obj = self.engine.build(op)
                    t1 = time.perf_counter()
                    with tr.quiet():
                        hit = is_cached(obj) if isinstance(obj, DataFrame) else None
                    t2 = time.perf_counter()
                    if isinstance(obj, Eager):
                        rows = obj.rows
                    else:
                        with tr.span("spark.plan"):
                            obj._jdf.queryExecution().executedPlan()
                        with tr.span("spark.exec"):
                            rows = [tuple(r) for r in obj.collect()]
                    t3 = time.perf_counter()
            else:
                obj = self.engine.build(op)
                t1 = time.perf_counter()
                hit = is_cached(obj) if isinstance(obj, DataFrame) else None
                t2 = time.perf_counter()
                rows = obj.rows if isinstance(obj, Eager) else [tuple(r) for r in obj.collect()]
                t3 = time.perf_counter()
            rec.update(latency=(t1 - t0) + (t3 - t2), probe=t2 - t1, rows=rows, cache_hit=hit)
        except Exception as e:  # noqa: BLE001 - reported per op
            rec.update(latency=time.perf_counter() - t0,
                       error=f"{type(e).__name__}: {str(e)[:400]}")
        rec["end"] = time.perf_counter()
        if tr is not None:
            with tr.quiet():
                rec["cache_entries"] = cache_entries(self.spark)
        else:
            rec["cache_entries"] = cache_entries(self.spark)
        if traced:
            self._trace_op(rec, obj)
        self.records.append(rec)
        return rec

    def _trace_op(self, rec: dict, obj) -> None:
        from pyspark.sql import DataFrame

        from tracing import job_counts, plan_metrics, self_times, unattributed

        tr = self.tracer
        spans = [s for s in tr.spans if s["op"] == rec["id"]]
        selfs = self_times(spans)
        layers: dict = {}
        with tr.quiet():
            for s in spans:
                d = layers.setdefault(s["name"], {
                    "self_ms": 0.0, "total_ms": 0.0, "py4j": 0, "jobs": 0,
                    "stages": 0, "tasks": 0, "persist": 0, "unpersist": 0,
                    "truncate": 0,
                })
                d["self_ms"] += selfs[s["id"]] * 1000.0
                if s["parent"] is None or s["name"] not in {
                    p["name"] for p in spans if p["id"] == s["parent"]
                }:
                    d["total_ms"] += (s["end"] - s["start"]) * 1000.0
                for k in ("py4j", "persist", "unpersist", "truncate"):
                    d[k] += s[k]
                if s["group"]:
                    for k, v in job_counts(tr.sc, [s["group"]]).items():
                        d[k] += v
            pm = {"shuffle_write_bytes": 0, "spill_bytes": 0, "scan_bytes": 0, "rows_out": 0}
            if isinstance(obj, DataFrame) and "error" not in rec:
                try:
                    pm = plan_metrics(obj)
                except Exception:  # noqa: BLE001 - metrics are best-effort
                    pass
            if not pm["rows_out"] and "rows" in rec:
                pm["rows_out"] = len(rec["rows"])
        rec["layers"] = layers
        rec["plan"] = pm
        # the op span's own self time, less the cache probe, is latency no
        # layer span covers
        gap = unattributed(spans, selfs, rec.get("probe", 0.0))
        rec["selftime_gap"] = gap / rec["latency"] if rec["latency"] else 0.0

    # -- loops -------------------------------------------------------------------
    def _client(self, it, client: int, phase: str, out: list) -> None:
        idents = self.tracer.clients if self.tracer is not None else set()
        idents.add(threading.get_ident())
        try:
            for op in next(it):
                out.append(self.run_op(op, client, phase))
        finally:
            idents.discard(threading.get_ident())

    def round(self, phase: str) -> list:
        """One round of every client, the clients running concurrently;
        returns when all of them have finished theirs."""
        parts = [[] for _ in self.iters]
        threads = [
            threading.Thread(target=self._client, name=f"perfbench-client-{c}",
                             args=(it, c, phase, parts[c]))
            for c, it in enumerate(self.iters)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return [r for p in parts for r in p]

    def window(self, seconds: float, min_rounds: int) -> None:
        """Timed rounds, all whole, while the next one is expected to end
        within ``seconds`` of the start (``min_rounds`` at least); under
        --trace 1 traced and untraced rounds alternate, traced first.  Each
        round's (phase, seconds, records) goes to ``self.round_log``."""
        start = time.perf_counter()
        last = 0.0
        i = 0
        while i < min_rounds or time.perf_counter() - start + last / 2 < seconds:
            phase = "timed"
            if self.tracer is not None:
                self.tracer.enabled = i % 2 == 0
                phase = "traced" if self.tracer.enabled else "untraced"
            t = time.perf_counter()
            recs = self.round(phase)
            last = time.perf_counter() - t
            self.round_log.append((phase, last, recs))
            i += 1
        if self.tracer is not None:
            self.tracer.enabled = False

    # -- the run -------------------------------------------------------------------
    def run(self) -> dict:
        from arcadedb_spark import Database, get_spark

        from ops import Engine
        from tracing import Tracer, block_store_bytes

        args = self.args
        t_imports = time.perf_counter()
        self.spark = get_spark("perfbench")
        t_session = time.perf_counter()
        jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        if args.trace:
            self.tracer = Tracer()
            self.tracer.install(self.spark)
            self.tracer.clients.add(threading.get_ident())
        self.db = Database.open(self.spark, self.data_dir)
        t_open = time.perf_counter()
        res = {
            # process start (interpreter, imports, JVM launch) until the
            # database is open; the prewarm threads it starts still run
            "setup_s": process_age_s(),
            "session.start_s": t_session - t_imports,
            "database.open_s": t_open - t_session,
        }
        mark = res["timeline_s"] = {"open": t_open - T0}
        self.engine = Engine(self.db, args.workload)
        self.engine.prepare()
        mark["prepare"] = time.perf_counter() - T0
        dom = workloads.sizes(self.sf)
        self.iters = [workloads.rounds(args.workload, args.seed, c, dom)
                      for c in range(self.spec.clients)]

        t = time.perf_counter()
        self.round("cold")
        res["cold_pass_s"] = time.perf_counter() - t
        mark["cold_pass"] = time.perf_counter() - T0

        # whole rounds, so every op kind of every client counts equally;
        # under --trace 1 two traced rounds at least, so each op kind is
        # traced twice and the report can say whether its counts repeat
        self.window(args.seconds, 3 if args.trace else 2)
        mark["window"] = time.perf_counter() - T0
        phase = "traced" if args.trace else "timed"
        timed = [r for p, _, rs in self.round_log if p == phase for r in rs]
        res["window_s"] = sum(s for p, s, _ in self.round_log if p == phase)
        if args.trace:
            res["untraced_p50_ms"] = pct([r["latency"] for p, _, rs in self.round_log
                                          if p == "untraced" for r in rs if "error" not in r], 0.5) * 1000
        res["timed"] = timed
        with (self.tracer.quiet() if self.tracer else contextlib.nullcontext()):
            res["cache_mb_end"] = block_store_bytes(self.spark) / MB
        res["peak_rss_mb"] = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0 + vm_hwm_mb(jvm_pid)
        )
        with (self.tracer.quiet() if self.tracer else contextlib.nullcontext()):
            res["jvm_heap_mb"] = jvm_heap_mb(self.spark)
        self.check()
        mark["check"] = time.perf_counter() - T0
        join_prewarm()
        self.spark.stop()
        return res

    def check(self) -> None:
        """Compare every result with its expected value (outside the
        timed window); mark wrong ones on their record."""
        from ops import Checker, WriteModel

        checker = Checker(self.data_dir)
        model = WriteModel(checker) if self.spec.writer else None
        for rec in self.records:  # the writer's records are in its op order
            if "error" in rec:
                continue
            op = rec["op"]
            try:
                if rec["client"] == self.spec.readers and model:
                    ok, want = model.apply(op, rec["rows"])
                else:
                    ok, want = checker.check_read(op, rec["rows"])
            except Exception as e:  # noqa: BLE001 - a failed check is a wrong result
                ok, want = False, None
                rec["check_error"] = f"{type(e).__name__}: {str(e)[:300]}"
            if not ok:
                rec["wrong"] = f"got {rec['rows']!r:.300} want {want!r:.300}"


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def steal_pct(start: tuple, end: tuple) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total else 0.0


def summarize(bench: Bench, res: dict, host: dict) -> tuple:
    """(report dict, metrics dict) from the run's records."""
    args = bench.args
    recs = bench.records
    timed = res["timed"]
    bad = [r for r in recs if "error" in r or r.get("wrong")]
    ok_timed = [r for r in timed if "error" not in r and not r.get("wrong")]
    lat = [r["latency"] * 1000 for r in ok_timed]
    # correct ops per second of each timed round
    round_rates = [sum(1 for r in rs if "error" not in r and not r.get("wrong")) / secs
                   for p, secs, rs in bench.round_log if p in ("timed", "traced")]
    readers = [r for r in sorted(recs, key=lambda r: r["end"])
               if r["client"] < bench.spec.readers]
    seen: set = set()
    repeats = 0
    for r in readers:
        if r["phase"] != "cold" and r["op"].key in seen:
            repeats += 1
        seen.add(r["op"].key)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": bench.sf, "clients": bench.spec.clients,
        "host": host,
        "rounds": len(round_rates), "ops_attempted": len(recs), "ops_timed": len(timed),
        "latency_samples": len(lat), "window_s": res["window_s"],
        "round_s": [s for _, s, _ in bench.round_log],
        "round_ops_per_s": round_rates,
        "jvm_heap_mb": res["jvm_heap_mb"],
        "timeline_s": res["timeline_s"],
        "failed_op_ratio": len(bad) / len(recs) if recs else 1.0,
        "failures": [
            {"phase": r["phase"], "op": r["op"].key,
             "error": r.get("error") or r.get("check_error") or r["wrong"]}
            for r in bad
        ],
        "repeat_share": repeats / max(1, len([r for r in readers if r["phase"] != "cold"])),
        "served_by_earlier_cache": [r["op"].key for r in timed if r.get("cache_hit")],
        "cache_entries_end": recs[-1]["cache_entries"] if recs else 0,
        "p50_ms_by_kind": {
            k: pct([r["latency"] * 1000 for r in ok_timed if r["op"].kind == k], 0.5)
            for k in sorted({r["op"].kind for r in ok_timed})
        },
        "cold_ms_by_kind": {
            k: pct([r["latency"] * 1000 for r in recs if r["phase"] == "cold" and r["op"].kind == k], 0.5)
            for k in sorted({r["op"].kind for r in recs if r["phase"] == "cold"})
        },
    }
    if bench.spec.writer:
        # the writer's stream: writes, then reads of the state they changed
        w = [r for r in ok_timed if r["client"] == bench.spec.readers]
        quarter = max(1, len(w) // 4)
        early = [r["latency"] for r in w[:quarter]]
        late = [r["latency"] for r in w[-quarter:]]
        report.update(
            writer_ops=len(w),
            read_p50_ms=pct([r["latency"] * 1000 for r in w if not r["op"].write], 0.5),
            write_p50_ms=pct([r["latency"] * 1000 for r in w if r["op"].write], 0.5),
            late_early_p50_ratio=pct(late, 0.5) / pct(early, 0.5) if early else 0.0,
        )
    if args.trace:
        metrics = layer_metrics(bench, res)
        report["trace"] = trace_report(bench, res)
    else:
        vals = {
            "setup_s": res["setup_s"],
            "cold_pass_s": res["cold_pass_s"],
            # the median round: from three rounds on, one that met a stall on
            # the host moves it little
            "ops_per_s": statistics.median(round_rates),
            "latency_p50_ms": pct(lat, 0.5),
            "latency_p90_ms": pct(lat, 0.9),
            "cache_mb_end": res["cache_mb_end"],
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {n: {"value": vals[n], "unit": u} for n, u in END_TO_END}
    return report, metrics


def _traced(bench) -> list:
    return [r for r in bench.records if r["phase"] == "traced" and "layers" in r]


def layer_metrics(bench: Bench, res: dict) -> dict:
    tr = bench.tracer
    ops = _traced(bench)

    def having(layer):
        return [r for r in ops if layer in r["layers"]]

    def self_mean(layer, field):
        return mean(r["layers"][layer][field] for r in having(layer))

    def by_build(layer):
        from ops import BUILD_LAYER

        return [r for r in ops if BUILD_LAYER[r["op"].kind] == layer]

    def total(r, field):
        return sum(d[field] for d in r["layers"].values())

    v = {
        "session.start_s": res["session.start_s"],
        "database.open_s": res["database.open_s"],
        # what clients waited for; the prewarm threads' loads are in the report
        "catalog.first_touch_ms": sum(ms for _, client, ms in tr.first_touch if client),
        "sql.parser.parse_ms": self_mean("sql.parser", "self_ms"),
        "sql.translator.build_jobs": self_mean("sql.translator", "jobs"),
    }
    for m in SKINS:
        v[f"{m}.build_ms"] = self_mean(m, "self_ms")
        v[f"{m}.py4j_calls"] = self_mean(m, "py4j")
    trav = by_build("graph.traverse")
    v["graph.traverse.call_ms"] = mean(r["latency"] * 1000 for r in trav)
    v["graph.traverse.jobs"] = mean(total(r, "jobs") for r in trav)
    algo = by_build("graph.algorithms")
    v["graph.algorithms.call_ms"] = mean(r["latency"] * 1000 for r in algo)
    for name, field in (("jobs", "jobs"), ("stages", "stages"), ("persist_calls", "persist"),
                        ("unpersist_calls", "unpersist"), ("truncate_calls", "truncate")):
        v[f"graph.algorithms.{name}"] = mean(total(r, field) for r in algo)
    for m in OPERATORS:
        rs = by_build(m)
        v[f"{m}.build_ms"] = mean(r["layers"][m]["total_ms"] for r in rs)
        v[f"{m}.exec_ms"] = mean(r["layers"].get("spark.exec", {}).get("total_ms", 0.0) for r in rs)
        v[f"{m}.jobs"] = mean(total(r, "jobs") for r in rs)
    frames = [r for r in ops if r.get("cache_hit") is not None]
    v["spark.cache_entries"] = mean(r["cache_entries"] for r in ops)
    v["spark.cache_hit"] = mean(1.0 if r["cache_hit"] else 0.0 for r in frames)
    cmd = having("sql.commands")
    v["sql.commands.exec_ms"] = self_mean("sql.commands", "self_ms")
    v["sql.commands.jobs"] = self_mean("sql.commands", "jobs")
    v["sql.commands.cache_entries_delta"] = mean(r["cache_entries"] - r["cache_before"] for r in cmd)
    v["kv.call_ms"] = mean(r["latency"] * 1000 for r in by_build("kv"))
    v["spark.plan_ms"] = self_mean("spark.plan", "self_ms")
    v["spark.exec_ms"] = self_mean("spark.exec", "self_ms")
    for f in ("jobs", "stages", "tasks"):
        v[f"spark.{f}"] = mean(total(r, f) for r in ops)
    for f in ("shuffle_write_bytes", "spill_bytes", "scan_bytes", "rows_out"):
        v[f"spark.{f}"] = mean(r["plan"][f] for r in ops)
    v["py4j.calls"] = mean(total(r, "py4j") for r in ops)
    v["background.py4j_calls"] = tr.background["py4j"]
    p50 = pct([r["latency"] for r in ops if "error" not in r], 0.5) * 1000
    v["trace.overhead_pct"] = (p50 / res["untraced_p50_ms"] - 1) * 100 if res["untraced_p50_ms"] else 0.0
    v["trace.selftime_gap_pct"] = max((r["selftime_gap"] for r in ops), default=0.0) * 100
    return {n: {"value": float(v[n]), "unit": u} for n, u in PER_LAYER}


def trace_report(bench: Bench, res: dict) -> dict:
    """What the per-layer numbers rest on: sample counts, which layers the
    workload never entered, and whether per-op counts repeated."""
    tr = bench.tracer
    ops = _traced(bench)
    entered = {n for r in ops for n in r["layers"]}
    counts: dict = {}
    for r in ops:
        counts.setdefault(r["op"].kind, []).append([
            sum(d[f] for d in r["layers"].values())
            for f in ("jobs", "py4j", "persist", "unpersist", "truncate")
        ])
    return {
        "traced_ops": len(ops),
        "untraced_p50_ms": res["untraced_p50_ms"],
        # these layers' metrics read 0 on this workload
        "layers_not_entered": sorted(m for m in MODULES if m not in entered),
        # per op kind, [jobs, py4j calls, persist, unpersist, truncate] of
        # each traced op, and whether they were the same every time (only
        # a count that repeats can carry a count-based claim)
        "counts_by_kind": counts,
        "counts_repeat_by_kind": {k: all(c == v[0] for c in v) for k, v in counts.items()
                                  if len(v) > 1},
        "background_spans": tr.background["spans"],
        "first_touch": [{"table": t, "client": c, "ms": ms} for t, c, ms in tr.first_touch],
        "not_measured": {
            "graph.algorithms.*": "PageRank only (pipelines); components, SCC, A*, "
                                  "k shortest paths and Louvain are not run, see README",
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=workloads.SF, choices=sorted(workloads.SIZES),
                    help="scale factor of the fixtures to read")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "arcadedb_spark", "__init__.py")):
        print(f"perfbench: no arcadedb_spark package under {ROOT}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    # half the cores for Spark's task threads: the other half runs the
    # clients, py4j and the driver JVM's scheduler, GC and JIT threads.
    # With local[nproc] on 4 cores a pipelines run spread 2-3 times as
    # wide from run to run, and interactive ran 25% fewer ops per second.
    cpus = max(1, nproc // 2)
    load_start = os.getloadavg()[0]
    ticks_start = cpu_ticks()
    probe_start = cpu_probe_ms()
    data_dir = os.path.join(HERE, "fixtures", f"sf{args.sf}")
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="tmp-", dir=work)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options '-Djava.io.tmpdir={tmp} "
                                f"-Xms{HEAP} -XX:+AlwaysPreTouch' pyspark-shell"),
        # no hsperfdata files outside the checkout, from the driver or spark-submit's
        # launcher JVM
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    os.chdir(tmp)  # anything Spark drops in the working directory goes away with tmp

    bench = Bench(args, args.sf, data_dir)
    try:
        res = bench.run()
    finally:
        stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)
    host = {
        "nproc": nproc, "spark_graft_cpus": cpus,
        "load1_start": load_start, "load1_end": os.getloadavg()[0],
        "loaded_at_start": load_start > nproc,
        "cpu_probe_ms_start": probe_start, "cpu_probe_ms_end": cpu_probe_ms(),
        "steal_pct": steal_pct(ticks_start, cpu_ticks()),
        "commit": source_commit(),
    }
    res["timeline_s"]["stopped"] = time.perf_counter() - T0
    report, metrics = summarize(bench, res, host)
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as fh:
        json.dump({"report": report, "metrics": metrics}, fh, indent=1, default=str)
    if bench.tracer is not None:
        bench.tracer.dump(os.path.join(out_dir, stem + ".spans.jsonl"))
    failed = len(report["failures"])
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": report["ops_attempted"],
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
