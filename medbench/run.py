"""Medallion benchmark: file-to-file batch rebuild and live rescrape updates.

    python3 medbench/run.py --workload backfill|live_update --seed N \
        --seconds S --trace 0|1

Run from the repository root. Inputs come from ``gen.py`` (standard
library, before any JVM starts). Everything runs in one JVM on
local[nproc] with one client in a closed loop, through the package's
public entry points only: ``cli.main``,
``streaming.run_incremental_pipeline``, ``queries.REGISTRY`` and
``session.get_spark``.

* ``backfill``: raw CSV + meta JSON + players JSONL → bronze → silver
  (fuzzy names) → the four gold tables, through ``cli.main`` into fresh
  directories, then the headline queries that build their own inputs
  (``queries()``) into the noop sink. One op is one rebuild plus one pass.
* ``live_update``: a small backlog is bootstrapped by the stream
  (``gold_mode="incremental"``); each op then renames one scrape file
  into the raw directory and runs one ``availableNow`` trigger. Latency
  runs from the rename to the trigger's end.

Set-up is timed as ``setup_s`` and never enters a latency median: session
start, then a warm-up that runs every plan an op runs (one backfill op;
the stream's bootstrap of its backlog). A run times at least MIN_OPS ops
and reports medians. Every op is timed in wall time and in CPU seconds of
the whole process tree (driver, JVM, Python workers) read from /proc, and
records the box's steal. Outputs are checked off the clock: each
backfill's gold against the library path over the same inputs and each
query result against its pinned digest; the stream's final gold against
a full-mode recompute. A mismatch counts as a failed op.

``--trace 1`` reads per-layer figures from Spark's status stores after
each traced op; in that mode traced and untraced ops interleave
(TRACE_PATTERN) so the overhead of tracing on latency is measured in the
same run, and it prints the ``per_layer`` metrics instead of the
end-to-end ones. The last stdout line is the result JSON; the line
before it is the full artifact (per-op samples, steal, the pinned
environment), also written under ``.medbench_work/results/``.

The sizes are small on purpose: most of an op's cost is fixed (dozens of
Spark jobs, Python UDF workers, JIT), and a run, JVM start included,
must stay near a minute. A run times MIN_OPS ops even when they take
longer than ``--seconds``, so the op count, and with it how warm the
timed ops are, does not follow the box's speed.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import procstat  # noqa: E402

# timed ops a run makes at least, whatever --seconds says. A run's
# fixed part (JVM start, a cold warm-up op, the output check) costs
# 40-45 s on 4 vCPUs, so one op keeps a run near a minute. Most of the
# spread between runs is box speed over the whole run, which a median
# over more ops in the same run does not average away.
MIN_OPS = 1
WORKLOADS = ("backfill", "live_update")
BACKFILL_MATCHES = 8
# the live backlog fits one micro-batch (the stream reads 8 files per
# trigger), so its bootstrap is a single batch; with two backlog matches
# the first two events are second scrapes, of one length on every seed,
# which keeps write_amp seed-stable (a traced run's third event is a
# full third scrape)
BACKLOG = 2
# the events a run can drop: MIN_OPS untraced, or TRACE_PATTERN traced;
# every fourth would start a new match (gen.NEW_MATCH_EVERY), the others
# rescrape
EVENTS = 3
LIVE_MATCHES = BACKLOG + EVENTS // gen.NEW_MATCH_EVERY
# order-insensitive digests (see digest) of the queries() results
PINNED = {"ipl_gold_e2e": (4, 5497207864964186166)}
# traced runs interleave T(raced) and U(ntraced) ops so drift cancels
TRACE_PATTERN = "TUT"
GOLD = ["gold_batsman_stats", "gold_bowler_stats", "gold_team_stats",
        "gold_tournament_standings"]
LIVE_TABLES = ["bronze_acc", "silver", "partials", "gold"]


def queries() -> list[str]:
    """The headline queries (``bench.HEADLINE``) that build their own
    inputs, the IPL family; the others read TPC-H-style tables that the
    repository does not hold."""
    from bench import HEADLINE

    return [n for n in HEADLINE if n.startswith("ipl_")]


def pin_environment(work: str) -> dict:
    """Fix everything the session reads from the environment."""
    cpus = len(os.sched_getaffinity(0))
    local = f"{work}/spark-local"
    tmp = f"{work}/tmp"
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        # Python workers import the package from this checkout
        PYTHONPATH=os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    )
    return dict(cpus=cpus, master=f"local[{cpus}]", work_dir_fs=_fs_type(work),
                spark_local_dirs_fs=_fs_type(local), python=sys.version.split()[0])


def _fs_type(path: str) -> str:
    best, kind = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, fstype = line.split()[:3]
            if os.path.realpath(path).startswith(mnt) and len(mnt) > len(best):
                best, kind = mnt, fstype
    return f"{kind}:{best}"


def session_conf(work: str) -> dict[str, str]:
    big = "1000000"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": big,
        "spark.ui.retainedStages": big,
        "spark.ui.retainedTasks": big,
        "spark.sql.ui.retainedExecutions": big,
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # JVM temp files in the work directory, no hsperfdata file
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    }


def files_under(path: str) -> dict[str, tuple]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            s = os.stat(p)
            out[p] = (s.st_ino, s.st_mtime_ns, s.st_size)
    return out


def digest(df) -> tuple[int, int]:
    """Order-insensitive (rows, hash sum) of a frame; doubles are rounded
    to 6 places so summation order cannot change the digest."""
    from pyspark.sql import functions as F

    cols = [
        F.round(F.col(c), 6) if t in ("double", "float") else F.col(c)
        for c, t in sorted(df.dtypes)
    ]
    r = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count("*"), F.sum("h")
    ).first()
    return int(r[0]), int(r[1] or 0)


def library_gold(spark, raw_glob: str, meta: str, players: str) -> dict:
    """Digests of the four gold tables computed by the library path:
    ``to_silver(to_bronze(raw))`` and the ``plans.gold`` builders."""
    from aws_ipl_data_pipeline_spark.plans import gold, to_bronze, to_silver
    from aws_ipl_data_pipeline_spark.schemas import MATCH_META, PLAYERS, RAW_DELIVERIES
    from aws_ipl_data_pipeline_spark.sources.readers import (
        read_csv, read_json_object, read_jsonl)

    silver = to_silver(
        to_bronze(read_csv(spark, raw_glob, RAW_DELIVERIES)),
        read_json_object(spark, meta, MATCH_META),
        read_jsonl(spark, players, PLAYERS),
    ).localCheckpoint(eager=True)
    builders = [gold.batsman_stats, gold.bowler_stats, gold.team_stats,
                gold.tournament_standings]
    return {name: digest(b(silver)) for name, b in zip(GOLD, builders)}


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


class Heap:
    """The JVM heap: peak used over a span (the heap pools' peak usage,
    reset at the start of the span) and the live heap after full GCs."""

    def __init__(self, spark):
        self.jvm = spark._jvm
        mf = self.jvm.java.lang.management.ManagementFactory
        self.pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]
        self.bean = mf.getMemoryMXBean()

    def reset(self) -> None:
        for p in self.pools:
            p.resetPeakUsage()

    def peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self.pools) / 2**20

    def live_mb(self) -> float:
        """Heap still in use after full GCs: what the program retains,
        whatever heap size the collector chose. Python's proxies of JVM
        objects go first. A GC lets Spark's cleaner release the shuffles
        and broadcasts nothing references, which only a later GC frees,
        and the cleaner can take most of a second; so collect once a
        second until the heap stops shrinking (a GC too early read
        10-140 MiB more)."""
        gc.collect()
        used = float("inf")
        for _ in range(8):
            self.jvm.java.lang.System.gc()
            now = self.bean.getHeapMemoryUsage().getUsed() / 2**20
            if used - now < 1.0:
                return now
            used = now
            time.sleep(1.0)
        return used


class Backfill:
    def __init__(self, spark, work: str, inputs: dict):
        self.spark, self.work, self.inputs = spark, work, inputs
        self.queries = queries()
        self.n = 0

    def setup(self) -> None:
        """The warm-up: one op, which runs every plan a timed op runs."""
        self.after(dict(layers=self.op(None)), check=False)

    def op(self, group: str | None) -> dict:
        from aws_ipl_data_pipeline_spark.cli import main
        from aws_ipl_data_pipeline_spark.queries import REGISTRY

        inp = f"{self.work}/in"
        self.n += 1
        out = f"{self.work}/out/{self.n}"
        self.out = out
        sc = self.spark.sparkContext
        layers = {}
        steps = [
            ("bronze", ["bronze", "--raw-dir", f"{inp}/raw/*/", "--out", f"{out}/bronze"]),
            ("silver", ["silver", "--bronze", f"{out}/bronze", "--meta", f"{inp}/meta",
                        "--players", f"{inp}/players", "--out", f"{out}/silver"]),
            ("gold", ["gold", "--silver", f"{out}/silver", "--out-dir", f"{out}/gold"]),
        ]
        for layer, argv in steps:
            if group:
                sc.setJobGroup(f"{group}.{layer}", layer)
            t = time.perf_counter()
            main(argv)
            layers[layer] = time.perf_counter() - t
        self.frames = {}
        for name in self.queries:
            if group:
                sc.setJobGroup(f"{group}.q.{name}", name)
            t = time.perf_counter()
            # the query builds its inputs; a read of this path would fail
            df = REGISTRY[name].fn(self.spark, f"{self.work}/no-tables")
            built = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            layers[f"q.{name}.build"] = built - t
            layers[f"q.{name}.exec"] = time.perf_counter() - built
            self.frames[name] = df
        if group:
            sc.setJobGroup("", "")
        return layers

    def after(self, rec: dict, check: bool = True) -> None:
        """Off the clock: bytes written, output digests, then clean up."""
        rec["bytes_written"] = sum(s[2] for s in files_under(self.out).values())
        rec["bytes_in"] = self.inputs["raw_bytes"]
        if check:
            rec["gold"] = {g: digest(self.spark.read.parquet(f"{self.out}/gold/{g}"))
                           for g in GOLD}
            rec["queries"] = {n: digest(df) for n, df in self.frames.items()}
        shutil.rmtree(self.out)

    def check(self, recs: list[dict]) -> list[bool]:
        """Each op's gold against the library path over the same inputs,
        its query results against the pinned digests."""
        inp = f"{self.work}/in"
        want = library_gold(self.spark, f"{inp}/raw/*/", f"{inp}/meta", f"{inp}/players")
        pinned = {n: PINNED.get(n) for n in self.queries}
        for r in recs:
            if r["queries"] != pinned:
                print(f"query digests {r['queries']} != pinned {pinned}", file=sys.stderr)
        return [r["gold"] == want and r["queries"] == pinned for r in recs]

    def layer_metrics(self, stores, mark, group: str, rec: dict) -> dict:
        from sparkstores import node_sum

        m = {}
        for layer in ("bronze", "silver", "gold"):
            ids = list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(f"{group}.{layer}"))
            t = stores.stage_totals(ids)
            m[f"{layer}.wall_s"] = rec["layers"][layer]
            m[f"{layer}.jobs"] = t["jobs"]
            m[f"{layer}.task_cpu_s"] = t["task_cpu_s"]
        for part in ("build", "exec"):
            for name in self.queries:
                m[f"q.{name}.{part}_s"] = rec["layers"][f"q.{name}.{part}"]
            m[f"queries.{part}_s"] = sum(m[f"q.{n}.{part}_s"] for n in self.queries)
        ex = stores.executions(mark)
        writes = [e for e in ex if e["output"]]
        m["readers.files_read"] = node_sum(ex, "Scan", "number of files read")
        m["readers.listing_s"] = node_sum(ex, "Scan", "metadata time")
        w = "Execute InsertIntoHadoopFsRelationCommand"
        m["writers.commit_s"] = node_sum(writes, w, "job commit time") + node_sum(
            writes, w, "task commit time")
        m["writers.files_written"] = node_sum(writes, w, "number of written files")
        m["writers.partitions_written"] = node_sum(writes, w, "number of dynamic part")
        for layer in ("bronze", "silver"):
            sel = [e for e in writes if e["output"].rstrip("/").endswith(f"/{layer}")]
            m[f"{layer}.rows_out"] = node_sum(sel, w, "number of output rows")
        m["fuzzy.pairs"] = node_sum(ex, "ArrowEvalPython", "number of output rows")
        return m


class LiveUpdate:
    def __init__(self, spark, work: str, inputs: dict):
        self.spark, self.work = spark, work
        self.live = f"{work}/in"
        self.events = inputs["events"]
        self.k = 0

    def _trigger(self):
        from aws_ipl_data_pipeline_spark.streaming import run_incremental_pipeline

        q = run_incremental_pipeline(
            self.spark,
            raw_dir=f"{self.live}/raw/*/",
            silver_path=f"{self.live}/silver",
            gold_dir=f"{self.live}/gold",
            meta_df=self.meta,
            players_df=self.players,
            checkpoint_dir=f"{self.live}/checkpoint",
            gold_mode="incremental",
        )
        q.awaitTermination()
        return q

    def setup(self) -> None:
        """The warm-up: the stream's bootstrap of the backlog, a trigger
        that runs every plan an event runs."""
        from aws_ipl_data_pipeline_spark.schemas import MATCH_META, PLAYERS
        from aws_ipl_data_pipeline_spark.sources.readers import read_json_object, read_jsonl

        self.meta = read_json_object(self.spark, f"{self.live}/meta", MATCH_META)
        self.players = read_jsonl(self.spark, f"{self.live}/players", PLAYERS)
        self._trigger()
        self.before = self._outputs()

    def _outputs(self) -> dict[str, tuple]:
        return files_under(f"{self.live}/silver_bronze_acc") | files_under(
            f"{self.live}/silver") | files_under(f"{self.live}/gold")

    def op(self, group: str | None) -> dict:
        staged, final, size = self.events[self.k]
        self.k += 1
        os.rename(staged, final)
        self.q = self._trigger()
        self.size = size
        return {}

    def after(self, rec: dict, check: bool = True) -> None:
        now = self._outputs()
        changed = [p for p, s in now.items() if self.before.get(p) != s]
        self.before = now
        rec["bytes_written"] = sum(now[p][2] for p in changed)
        rec["bytes_in"] = self.size
        rec["files_written"] = {t: sum(1 for p in changed if self._table(p) == t)
                                for t in LIVE_TABLES}
        rec["partials_files_total"] = sum(1 for p in now if self._table(p) == "partials")
        prog = [json.loads(p.json) for p in self.q.recentProgress]
        rec["progress"] = [p["durationMs"] for p in prog]

    def _table(self, path: str) -> str | None:
        """Which of LIVE_TABLES a file or output path belongs to."""
        parts = os.path.relpath(path, self.live).split(os.sep)
        if parts[0] == "gold" and len(parts) > 1:
            return "partials" if parts[1].startswith("_partials_") else "gold"
        return {"silver_bronze_acc": "bronze_acc", "silver": "silver"}.get(parts[0])

    def check(self, recs: list[dict]) -> list[bool]:
        """The stream's final gold against a full-mode recompute over
        the final raw set; a mismatch fails the last op."""
        want = library_gold(self.spark, f"{self.live}/raw/*/", f"{self.live}/meta",
                            f"{self.live}/players")
        got = {g: digest(self.spark.read.parquet(f"{self.live}/gold/{g}")) for g in GOLD}
        return [True] * (len(recs) - 1) + [got == want]

    def layer_metrics(self, stores, mark, group: str, rec: dict) -> dict:
        m = {}
        d = rec["progress"]
        trig = sum(x.get("triggerExecution", 0) for x in d) / 1000.0
        m["stream.trigger_s"] = trig
        m["stream.add_batch_s"] = sum(x.get("addBatch", 0) for x in d) / 1000.0
        # latestOffset holds the listing of the raw directory
        m["stream.offsets_s"] = sum(
            x.get("latestOffset", 0) + x.get("walCommit", 0) for x in d) / 1000.0
        m["stream.commit_s"] = sum(x.get("commitOffsets", 0) for x in d) / 1000.0
        m["stream.start_stop_s"] = rec["wall_s"] - trig
        ex = stores.executions(mark)
        for t in LIVE_TABLES:
            m[f"{t}.write_s"] = sum(
                e["seconds"] for e in ex if e["output"] and self._table(e["output"]) == t)
            m[f"{t}.files_written"] = rec["files_written"][t]
        m["partials.files_total"] = rec["partials_files_total"]
        return m


def stage_inputs(workload: str, seed: int, work: str) -> dict:
    if workload == "backfill":
        return gen.write_inputs(f"{work}/in", seed, BACKFILL_MATCHES)
    info = gen.write_inputs(f"{work}/in", seed, LIVE_MATCHES, backlog=BACKLOG)
    events = []
    for e in gen.live_events(seed, LIVE_MATCHES, BACKLOG, EVENTS):
        staged, size = gen.write_event(f"{work}/stage", f"{work}/in/raw", e)
        events.append((staged, f"{work}/in/raw/{e[0]}/{e[1]}", size))
    info["events"] = events
    return info


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM and wait until both they and
    every Python worker are gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        left = [p for p in procstat.tree(os.getpid()) if p != os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test is the checkout's own copy; its absence is a
    # failure, not an empty result
    import aws_ipl_data_pipeline_spark as pkg

    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        sys.exit(f"the package must come from {ROOT}, not {pkg.__file__}")

    base = os.path.join(ROOT, ".medbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)

    t = time.perf_counter()
    inputs = stage_inputs(args.workload, args.seed, work)
    gen_s = time.perf_counter() - t

    sampler = procstat.Sampler(os.getpid())
    from aws_ipl_data_pipeline_spark.session import get_spark

    spark = get_spark("medbench", extra_conf=session_conf(work))
    session_s = time.perf_counter() - T_START - gen_s
    env["jvm_pid"] = int(spark._jvm.ProcessHandle.current().pid())
    env["driver_mem"] = spark.conf.get("spark.driver.memory")
    env["default_parallelism"] = spark.sparkContext.defaultParallelism
    env["shuffle_partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
    from aws_ipl_data_pipeline_spark.functions.fuzzy import resolve_scorer

    env["fuzzy_scorer"] = resolve_scorer()

    w = (Backfill(spark, work, inputs) if args.workload == "backfill"
         else LiveUpdate(spark, work, inputs))
    w.setup()
    heap = Heap(spark)
    stores = None
    if args.trace:
        from sparkstores import StatusStores

        stores = StatusStores(spark)
    setup_s = time.perf_counter() - T_START - gen_s

    recs = []
    t_loop = time.perf_counter()
    min_ops = len(TRACE_PATTERN) if args.trace else MIN_OPS
    while (time.perf_counter() - t_loop < args.seconds or len(recs) < min_ops) \
            and (args.workload != "live_update" or w.k < len(w.events)):
        traced = bool(args.trace) and TRACE_PATTERN[len(recs) % len(TRACE_PATTERN)] == "T"
        group = f"op{len(recs)}" if traced else None
        mark = stores.mark() if traced else None
        gc0 = jvm_gc_s(spark)
        heap.reset()
        w0, c0, s0 = sampler.reading()
        layers = w.op(group)
        w1, c1, s1 = sampler.reading()
        rec = dict(wall_s=w1 - w0, cpu_s=c1 - c0, steal_s=s1 - s0,
                   gc_s=jvm_gc_s(spark) - gc0, heap_peak_mb=heap.peak_mb(),
                   layers=layers, traced=traced)
        w.after(rec)
        if traced:
            rec["spark"] = stores.stage_totals(stores.jobs_since(mark))
            rec["per_layer"] = w.layer_metrics(stores, mark, group, rec)
        recs.append(rec)
    measure_s = time.perf_counter() - t_loop
    heap_live_mb = heap.live_mb()

    t = time.perf_counter()
    ok = w.check(recs)
    check_s = time.perf_counter() - t
    peak = sampler.peak_rss_mb
    env["processes"] = procstat.memory(procstat.tree(os.getpid()))
    sampler.close()
    t = time.perf_counter()
    stop_spark(spark)
    stop_s = time.perf_counter() - t

    timed = [r for r in recs if not r["traced"]]
    traced = [r for r in recs if r["traced"]]
    if args.trace:
        metrics = per_layer_metrics(timed, traced, peak)
    else:
        metrics = end_to_end_metrics(timed, setup_s, heap_live_mb)
    result = {
        "correct": all(ok),
        "attempted": len(recs),
        "failed": sum(not x for x in ok),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    artifact = dict(
        workload=args.workload, seed=args.seed, trace=args.trace, env=env,
        sizes={k: v for k, v in inputs.items() if k != "events"},
        gen_s=gen_s, session_s=session_s, setup_s=setup_s, measure_s=measure_s,
        check_s=check_s, stop_s=stop_s, peak_rss_mb=peak, heap_live_mb=heap_live_mb,
        samples=dict(latency=len(timed), traced=len(traced)),
        ops=[{k: v for k, v in r.items() if k not in ("gold", "progress")}
             for r in recs],
        checks=ok,
    )
    os.makedirs(f"{base}/results", exist_ok=True)
    with open(f"{base}/results/{args.workload}-{args.seed}-{args.trace}.json", "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"artifact": artifact}))
    print(json.dumps(result))
    return 0


def per_layer_names() -> list[str]:
    common = ["jvm.gc_s", "jvm.heap_peak_mb", "proc.peak_rss_mb", "spark.jobs",
              "spark.tasks", "spark.task_cpu_s", "shuffle.write_mb", "shuffle.spill_mb",
              "box.steal_s", "trace.overhead_pct"]
    backfill = [
        "bronze.wall_s", "silver.wall_s", "gold.wall_s",
        "bronze.jobs", "silver.jobs", "gold.jobs",
        "bronze.task_cpu_s", "silver.task_cpu_s", "gold.task_cpu_s",
        "readers.files_read", "readers.listing_s", "writers.commit_s",
        "writers.files_written", "writers.partitions_written",
        "bronze.rows_out", "silver.rows_out", "fuzzy.pairs",
        "queries.build_s", "queries.exec_s",
        *[f"q.{n}.{p}_s" for n in queries() for p in ("build", "exec")],
    ]
    live = [
        "stream.trigger_s", "stream.add_batch_s", "stream.offsets_s",
        "stream.commit_s", "stream.start_stop_s",
        *[f"{t}.write_s" for t in LIVE_TABLES],
        *[f"{t}.files_written" for t in LIVE_TABLES],
        "partials.files_total",
    ]
    return common + backfill + live


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_pct"):
        return "%"
    return "count"


def end_to_end_metrics(ops: list[dict], setup_s: float, heap_live_mb: float) -> dict:
    return {
        "latency_p50_s": (median([r["wall_s"] for r in ops]), "s"),
        "cpu_p50_s": (median([r["cpu_s"] for r in ops]), "s"),
        "setup_s": (setup_s, "s"),
        "heap_live_mb": (heap_live_mb, "MiB"),
        "write_amp": (sum(r["bytes_written"] for r in ops)
                      / sum(r["bytes_in"] for r in ops), "ratio"),
    }


def per_layer_metrics(untraced: list[dict], traced: list[dict], peak_rss_mb: float) -> dict:
    """Medians over traced ops; a layer the workload does not run reads 0.
    ``trace.overhead_pct`` compares traced ops with the untraced ops
    between them. ``proc.peak_rss_mb`` is the run's peak resident memory
    of the process tree, which follows when the collector grows the heap
    as much as what the program holds (heap_live_mb)."""
    vals = {"proc.peak_rss_mb": [peak_rss_mb]}
    for r in traced:
        row = dict(r["per_layer"])
        row.update({
            "jvm.gc_s": r["gc_s"], "jvm.heap_peak_mb": r["heap_peak_mb"],
            "spark.jobs": r["spark"]["jobs"],
            "spark.tasks": r["spark"]["tasks"], "spark.task_cpu_s": r["spark"]["task_cpu_s"],
            "shuffle.write_mb": r["spark"]["shuffle_write_mb"],
            "shuffle.spill_mb": r["spark"]["spill_mb"], "box.steal_s": r["steal_s"],
        })
        for k, v in row.items():
            vals.setdefault(k, []).append(v)
    lat_u = median([r["wall_s"] for r in untraced])
    lat_t = median([r["wall_s"] for r in traced])
    vals["trace.overhead_pct"] = [100.0 * (lat_t / lat_u - 1) if lat_u else 0.0]
    return {n: (median(vals.get(n, [])), _unit(n)) for n in per_layer_names()}


if __name__ == "__main__":
    sys.exit(main())
