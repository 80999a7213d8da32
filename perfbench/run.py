"""Warm-pass benchmark of the query registry.

One workload per process, one client, operations in sequence (a closed
loop) on ``local[<cores>]``. Each operation is a registered query:
``REGISTRY[name].spark(spark, sf_dir)`` followed by an action. A run:

1. starts the session and runs a check pass, collecting every result;
2. warms up with ``WARMUP_MIN`` count passes, then until a pass no longer
   costs more than ``WARMUP_FALL`` less CPU (JIT compilation aside) than
   the one before it (at most ``WARMUP_MAX`` warm-up passes); that pass is
   the first timed pass;
3. times whole passes until ``--seconds`` have elapsed and at least
   ``MIN_TIMED`` passes ran;
4. compares each collected result with its DuckDB oracle.

``--seed`` sets the order of the operations in every pass; the fixture
(``$SPARK_GRAFT_SF_DIR``, default ``~/testdata/sf0.1``) is read-only.
``--trace 0`` reports the end-to-end metrics (CPU seconds per timed pass,
without the JVM's JIT compiler threads, and set-up time), with wall-clock
pass and operation latencies beside them in ``perfbench/out``; ``--trace 1``
wraps the layers' public functions, reads Spark's status store after every
operation and reports the per-layer metrics, with its spans written to
``perfbench/out``. The last line of standard output is one JSON object.

    python3 perfbench/run.py --workload relational_mix --seed 1 --seconds 10 --trace 0
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

WORKLOADS = {
    # Short scan/shuffle/join queries: DataFrame construction (schema
    # inference in catalog.load_table) and Catalyst planning are a large
    # share of each, and plans.iterate is never called.
    "relational_mix": [
        "follower_count",
        "pricing_summary",
        "broadcast_join",
        "semi_join",
        "top_k",
        "union_reagg",
        "window_events",
        "top_events_per_user",
    ],
    # Eager loop jobs while the frame is built (SSSP through
    # plans.iterate, k-means, BPE), MinHash-LSH dedup, cosine vector
    # top-k and a streaming drain: executor and job-scheduling time dominate,
    # and catalog work is a small share.
    "iterative_mix": [
        "sssp_distances",
        "kmeans_followers",
        "bpe_merges",
        "dedup_minhash_lsh",
        "similarity_topk",
        "stream_enriched_totals",
    ],
}

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

WARMUP_FALL = 0.05  # a pass this much cheaper than the previous one is still warming
WARMUP_MIN = 2  # pass CPU still falls by 10-30% from the second to the third pass
WARMUP_MAX = 5  # count passes before timing starts regardless
MIN_TIMED = 2  # timed passes, so that the reported figure is a median
TAIL_ABOVE = 10  # samples the tail latency leaves above it
DRIVER_MEM = "4g"  # below the RAM of a small host; the session default is 16g


def tail(samples: list[float]) -> tuple[float, float] | tuple[None, None]:
    """The latency at the highest percentile that leaves ``TAIL_ABOVE``
    samples above it, and that percentile; none with too few samples."""
    n = len(samples)
    if n <= TAIL_ABOVE:
        return None, None
    return sorted(samples)[n - TAIL_ABOVE - 1], (n - TAIL_ABOVE) / n


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by ``root`` and every process below it, including
    children already reaped."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(pid: int) -> float:
    """CPU seconds used by the JIT compiler threads of JVM ``pid``. They
    must not exit while the JVM runs (``-XX:-UseDynamicNumberOfCompilerThreads``),
    or their time would be lost from this sum."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if "CompilerThre" in stat[stat.index("(") : stat.rindex(")")]:
            fields = stat.rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def sql_confs(spark) -> dict[str, str]:
    return {k: v for k, v in spark.conf.getAll.items() if k.startswith("spark.sql.")}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """One benchmark process: session, passes, oracle check, report."""

    def __init__(self, args, sf_dir: str, tmp: str, cores: int):
        self.args = args
        self.sf_dir = sf_dir
        self.tmp = tmp
        self.cores = cores
        self.ops = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.passes: list[dict] = []
        self.results: dict[str, tuple[list[str], list] | None] = {}
        self.errors: list[str] = []
        self.tracer = None
        self.spark = None
        self.jvm_rss_mb = None
        self.timed_start = None

    # -- one operation and one pass ------------------------------------------
    def run_op(self, name: str, kind: str, pass_no: int) -> dict:
        from mapreducelearnings_spark.queries import REGISTRY

        spec = REGISTRY[name]
        rec = {"op": name, "error": None}
        tr = self.tracer
        before = sql_confs(self.spark) if tr else None
        t0 = time.perf_counter()
        try:
            if tr is None:
                df = spec.spark(self.spark, self.sf_dir)
                if kind == "check":
                    self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    df.count()
            else:
                with tr.operation(f"{pass_no}:{name}") as op_span:
                    with tr.span("build"):
                        df = spec.spark(self.spark, self.sf_dir)
                    with tr.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("exec"):
                        if kind == "check":
                            rows = [tuple(r) for r in df.collect()]
                            self.results[name] = (df.columns, rows)
                        else:
                            df.count()
        except Exception as e:  # an operation failing is a result, not a crash
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
            self.errors.append(f"{name} ({kind} pass {pass_no}): {rec['error']}")
            if kind == "check":
                self.results[name] = None
        rec["wall_s"] = time.perf_counter() - t0
        if tr is not None and rec["error"] is None:
            rec.update(tr.spark_counters(self.spark, op_span))
            rec.update({f"{k}_s": v for k, v in tr.op_times(op_span["op"]).items()})
            rec.update(tr.counts.get(op_span["op"], {}))
            rec["conf_drift"] = int(sql_confs(self.spark) != before)
        return rec

    def run_pass(self, kind: str) -> dict:
        order = list(self.ops)
        self.rng.shuffle(order)
        pass_no = len(self.passes)
        jvm = self.jvm_pid()
        cpu0, jit0, steal0 = tree_cpu_s(os.getpid()), jit_cpu_s(jvm), steal_s()
        t0 = time.perf_counter()
        ops = [self.run_op(name, kind, pass_no) for name in order]
        wall_s = time.perf_counter() - t0
        cpu_s, jit_s = tree_cpu_s(os.getpid()) - cpu0, jit_cpu_s(jvm) - jit0
        rec = {
            "kind": kind,
            "start": t0,
            "wall_s": wall_s,
            "cpu_s": cpu_s,
            "jit_s": jit_s,
            "work_cpu_s": cpu_s - jit_s,
            "steal_s": steal_s() - steal0,
            "order": order,
            "ops": ops,
        }
        self.passes.append(rec)
        return rec

    # -- the run ---------------------------------------------------------
    def execute(self) -> None:
        from mapreducelearnings_spark import session

        if self.args.trace:
            from tracing import Tracer

            import mapreducelearnings_spark.queries  # noqa: F401  (imports every layer)

            self.tracer = Tracer()
            self.tracer.install()
        self.spark = session.get_spark(
            "perfbench",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.run_pass("check")
        for _ in range(WARMUP_MIN):
            prev = self.run_pass("warmup")["work_cpu_s"]
        for _ in range(WARMUP_MAX - WARMUP_MIN + 1):
            cur = self.run_pass("warmup")
            if cur["work_cpu_s"] > prev * (1 - WARMUP_FALL):
                break
            prev = cur["work_cpu_s"]
        cur["kind"] = "timed"  # the first pass that stopped falling (or the cap)
        self.timed_start = cur["start"]
        while (
            time.perf_counter() - self.timed_start < self.args.seconds
            or len(self.timed()) < MIN_TIMED
        ):
            self.run_pass("timed")

    def timed(self) -> list[dict]:
        return [p for p in self.passes if p["kind"] == "timed"]

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)

    # -- correctness -----------------------------------------------------------
    def check_oracles(self) -> dict[str, str]:
        """Compare each collected result with its DuckDB oracle; return
        ``{op: reason}`` for every mismatch."""
        from mapreducelearnings_spark.queries import REGISTRY

        saved = list(sys.path)
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        try:
            from check_oracles import normalize
        finally:
            sys.path[:] = saved

        bad = {}
        for name in self.ops:
            got = self.results.get(name)
            if got is None:
                continue  # already counted as a failed operation
            sql = REGISTRY[name].oracle
            if sql is None:
                bad[name] = "no oracle"
                continue
            ocols, orows = self.oracle_rows(name, sql)
            scols, srows = got
            if sorted(scols) != sorted(ocols):
                bad[name] = f"columns {sorted(scols)} vs oracle {sorted(ocols)}"
            elif len(srows) != len(orows):
                bad[name] = f"{len(srows)} rows vs oracle {len(orows)}"
            elif normalize(srows, scols) != normalize(orows, ocols):
                bad[name] = "values differ from oracle"
        return bad

    def oracle_rows(self, name: str, sql: str) -> tuple[list[str], list]:
        """The oracle's columns and rows, cached in ``OUT`` per query text
        and fixture files, since both are fixed for a checkout."""
        key = hashlib.sha256(sql.encode())
        for t in TABLES:
            st = os.stat(f"{self.sf_dir}/{t}.parquet")
            key.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
        path = os.path.join(OUT, "oracle", f"{name}-{key.hexdigest()[:16]}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"SET threads={self.cores}")
            con.execute("SET memory_limit='2GB'")
            con.execute(f"SET temp_directory='{self.tmp}/duckdb'")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            res = con.execute(sql)
            out = ([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".part", "wb") as f:
            pickle.dump(out, f)
        os.replace(path + ".part", path)
        return out

    # -- metrics ---------------------------------------------------------
    def end_to_end(self) -> dict[str, tuple[float, str]]:
        """Bounded metrics. Wall time on a shared host moves with the CPU
        time other guests steal, so the per-pass cost is CPU seconds. The
        JIT compiler threads are left out: a short run never reaches the
        point where they fall idle, and in the timed passes they still take
        about a third of the CPU and keep falling from pass to pass, by more
        on a slow host that runs fewer passes, while the work itself has
        levelled off."""
        return {
            "pass_cpu_s": (statistics.median(p["work_cpu_s"] for p in self.timed()), "s"),
            "setup_s": (self.timed_start - T_PROCESS, "s"),
        }

    def latency(self) -> dict[str, object]:
        """Wall-clock figures, reported beside the bounded metrics."""
        timed = self.timed()
        lat = [o["wall_s"] for p in timed for o in p["ops"] if o["error"] is None]
        tail_s, tail_q = tail(lat)
        return {
            "pass_s": statistics.median(p["wall_s"] for p in timed),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_s,
            "tail_percentile": tail_q,
            "op_samples": len(lat),
            "steal_s": sum(p["steal_s"] for p in timed),
            "jit_s": statistics.median(p["jit_s"] for p in timed),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        """Per-layer sums over each timed pass; the median pass is reported."""
        timed = self.timed()
        sums = []
        for p in timed:
            c: Counter = Counter()
            for o in p["ops"]:
                for k, v in o.items():
                    if isinstance(v, (int, float)) and not isinstance(v, bool):
                        c[k] += v
            sums.append(c)

        def med(key):
            return statistics.median(c[key] for c in sums)

        task_s = med("spark.task_s")
        pass_s = statistics.median(p["wall_s"] for p in timed)
        layer = {
            "session.get_spark_s": (self.span_total("session.get_spark"), "s"),
            "session.conf_drift": (med("conf_drift"), "count"),
            "catalog.load_table.calls": (med("catalog.load_table.calls"), "count"),
            "catalog.load_table_s": (med("catalog.load_table_s"), "s"),
            "queries.build_s": (med("build_s"), "s"),
            "queries.plan_s": (med("plan_s"), "s"),
            "queries.exec_s": (med("exec_s"), "s"),
            "iterate.calls": (med("iterate.calls"), "count"),
            "iterate.steps": (med("iterate.steps"), "count"),
            "iterate.checks": (med("iterate.checks"), "count"),
            "iterate_s": (med("iterate_s"), "s"),
            "loop_conf.calls": (med("loop_conf.calls"), "count"),
        }
        for metric in (
            "graph.sssp",
            "kmeans.kmeans_1d",
            "bpe.train_merges",
            "simsearch.cosine_topk",
            "dedup.minhash_signatures",
            "dedup.lsh_candidate_pairs",
            "windows.run_enriched_totals_to_memory",
        ):
            layer[f"{metric}_s"] = (med(f"{metric}_s"), "s")
        for key, unit in (
            ("spark.jobs", "count"),
            ("spark.stages", "count"),
            ("spark.tasks", "count"),
            ("spark.task_s", "s"),
            ("spark.gc_s", "s"),
            ("spark.job_wall_s", "s"),
            ("spark.driver_s", "s"),
            ("spark.shuffle_read_b", "B"),
            ("spark.shuffle_write_b", "B"),
            ("spark.spill_b", "B"),
            ("spark.input_b", "B"),
            ("spark.output_b", "B"),
        ):
            layer[key] = (med(key), unit)
        layer["spark.core_busy_frac"] = (task_s / (pass_s * self.cores), "fraction")
        layer["trace.pass_s"] = (pass_s, "s")
        # Left out of pass_cpu_s; shown here so that work moved into JIT
        # compilation is still seen.
        layer["jvm.jit_cpu_s"] = (statistics.median(p["jit_s"] for p in timed), "s")
        layer["jvm.peak_rss_mb"] = (self.jvm_rss_mb, "MB")
        return layer

    def span_total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.tracer.spans if s["name"] == name)

    def counters_repeat(self) -> bool:
        """Whether each operation's job, stage and task counts are the same
        in every timed pass."""
        seen: dict[str, tuple] = {}
        for p in self.timed():
            for o in p["ops"]:
                key = tuple(o.get(k) for k in ("spark.jobs", "spark.stages", "spark.tasks"))
                if seen.setdefault(o["op"], key) != key:
                    return False
        return True


def main(argv=None) -> int:
    args = parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    missing = [t for t in TABLES if not os.path.exists(f"{sf_dir}/{t}.parquet")]
    if missing:
        print(f"fixture {sf_dir} lacks tables {missing}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    sys.path.insert(1, HERE)
    import mapreducelearnings_spark  # noqa: F401  (fail fast outside a checkout)

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(OUT, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    # Pin the host context, and keep every file the run writes inside OUT.
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=(
            f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
            " -XX:-UseDynamicNumberOfCompilerThreads"  # see jit_cpu_s
        ),
    )
    load_before = loadavg()
    run = Run(args, sf_dir, tmp, cores)
    try:
        try:
            run.execute()
            run.jvm_rss_mb = peak_rss_mb(run.jvm_pid())
            conf = run.spark.conf
            context = {
                "nproc": cores,
                "master": run.spark.sparkContext.master,
                "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
                "aqe": conf.get("spark.sql.adaptive.enabled"),
                "driver_memory": run.spark.sparkContext.getConf().get("spark.driver.memory"),
                "sf_dir": sf_dir,
                "loadavg_before": load_before,
                "loadavg_after": loadavg(),
            }
        finally:
            run.stop()
        oracle_fail = run.check_oracles()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    attempted = sum(len(p["ops"]) for p in run.passes)
    failed = len(run.errors) + len(oracle_fail)
    metrics = run.per_layer() if args.trace else run.end_to_end()
    timed = run.timed()
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "context": context,
        "warmup_passes": sum(p["kind"] == "warmup" for p in run.passes),
        "timed_passes": len(timed),
        **run.latency(),
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted,
        "errors": run.errors,
        "oracle_mismatches": oracle_fail,
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "passes": [{k: v for k, v in p.items() if k != "start"} for p in run.passes],
    }
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        record["counters_repeat"] = run.counters_repeat()
        untraced = stem[: -len("trace1")] + "trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["pass_s"]
            record["trace_overhead_s"] = metrics["trace.pass_s"][0] - base
        with open(stem + "-spans.jsonl", "w") as f:
            for s in run.tracer.with_self_time():
                f.write(json.dumps(s) + "\n")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)

    for k, (v, unit) in metrics.items():
        print(f"{args.workload:15s} {k:42s} {v:14.4f} {unit}")
    lat = run.latency()
    tail_txt = (
        f"p{100 * lat['tail_percentile']:.1f} {lat['op_tail_s']:.4f} s"
        if lat["op_tail_s"] is not None
        else "none"
    )
    print(
        f"{args.workload:15s} failed_frac {record['failed_frac']:.4f} ({failed}/{attempted}); "
        f"wall pass {lat['pass_s']:.4f} s, op p50 {lat['op_p50_s']:.4f} s, "
        f"op tail {tail_txt} of {lat['op_samples']} samples; "
        f"JIT compiler {lat['jit_s']:.2f} cpu-s a pass; stolen {lat['steal_s']:.2f} cpu-s; "
        f"warm-up passes {record['warmup_passes']}"
        + (
            f"; tracing overhead {record['trace_overhead_s']:+.3f} s"
            if "trace_overhead_s" in record
            else ""
        )
    )
    for line in run.errors + [f"{k}: {v}" for k, v in oracle_fail.items()]:
        print(f"FAILED {line}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
