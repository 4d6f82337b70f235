"""The benchmark's own tests: no Spark needed.

    python3 -m pytest medbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH]

import gen  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
from sparkstores import parse_metric  # noqa: E402

END_TO_END = {
    "latency_p50_s": "s", "cpu_p50_s": "s", "setup_s": "s",
    "heap_live_mb": "MiB", "write_amp": "ratio",
}
PER_LAYER = [
    "jvm.gc_s", "jvm.heap_peak_mb", "proc.peak_rss_mb", "spark.jobs", "spark.tasks",
    "shuffle.write_mb", "shuffle.spill_mb", "spark.task_cpu_s", "box.steal_s", "trace.overhead_pct",
    "bronze.wall_s", "silver.wall_s", "gold.wall_s", "bronze.jobs",
    "silver.jobs", "gold.jobs", "readers.files_read", "readers.listing_s",
    "writers.commit_s", "bronze.task_cpu_s", "silver.task_cpu_s",
    "gold.task_cpu_s", "fuzzy.pairs", "writers.files_written",
    "writers.partitions_written", "bronze.rows_out", "silver.rows_out",
    "queries.build_s", "queries.exec_s",
    "q.ipl_gold_e2e.build_s", "q.ipl_gold_e2e.exec_s",
    "stream.trigger_s", "stream.add_batch_s", "stream.offsets_s",
    "stream.commit_s", "stream.start_stop_s",
    "bronze_acc.write_s", "silver.write_s", "partials.write_s", "gold.write_s",
    "bronze_acc.files_written", "silver.files_written",
    "partials.files_written", "gold.files_written", "partials.files_total",
]


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_generator_is_deterministic_per_seed(tmp_path):
    for d, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_inputs(str(tmp_path / d), seed, 6)
    a, b, c = (_tree_bytes(str(tmp_path / d)) for d in "abc")
    assert a == b
    assert a != c
    assert gen.live_events(7, 12, 3, 6) == gen.live_events(7, 12, 3, 6)
    assert gen.live_events(7, 12, 3, 6) != gen.live_events(8, 12, 3, 6)


def test_generator_layout_and_vocabulary(tmp_path):
    info = gen.write_inputs(str(tmp_path), 3, 10)
    raw = tmp_path / "raw"
    matches = sorted(os.listdir(raw))
    assert len(matches) == 10 == info["matches"]
    for m in matches:
        assert sorted(os.listdir(raw / m)) == [f"{m}-{n}.csv" for n in (1, 2, 3)]
        assert (tmp_path / "meta" / f"{m}_meta.json").exists()
    assert (tmp_path / "players" / "players.jsonl").exists()
    _, rows, players = gen.generate(3, 10)
    events = {r[8] for m in rows for r in m}
    assert {"5 wides", "byes", "leg byes", "wide", "no ball"} <= events
    assert any(e.startswith("out ") for e in events)
    assert any(r[8] == "byes" and r[9].startswith("2 runs") for m in rows for r in m)
    names = {p["Name"] for p in players}
    scraped = {r[7] for m in rows for r in m} | {r[6] for m in rows for r in m}
    assert scraped - names, "some scraped names carry typos"
    assert any(len(m) != len({tuple(r) for r in m}) for m in rows), "duplicate rows"


def test_live_events_extend_earlier_scrapes(tmp_path):
    gen.write_inputs(str(tmp_path), 5, 12, backlog=3)
    assert len(os.listdir(tmp_path / "raw")) == 3
    metas, full, _ = gen.generate(5, 12)
    full = {meta["short_name"]: rows for meta, rows in zip(metas, full)}
    seen = {m: (1, 0) for m in os.listdir(tmp_path / "raw")}
    fresh = 0
    for m, name, rows in gen.live_events(5, 12, 3, 8):
        n, length = seen.get(m, (0, 0))
        fresh += m not in seen
        # each scrape is a prefix of the match, at least as long as the last
        assert rows == full[m][: len(rows)] and len(rows) >= length
        assert name == f"{m}-{n + 1}.csv"
        seen[m] = (n + 1, len(rows))
    assert fresh == 2


def test_busy_child_cpu_is_close_to_wall():
    code = "import time\nt=time.time()\nwhile time.time()-t<1.5: pass"
    me = os.getpid()
    c0 = procstat.cpu_s(procstat.tree(me))
    t0 = time.perf_counter()
    child = subprocess.Popen([sys.executable, "-c", code])
    time.sleep(1.0)
    live = procstat.cpu_s([child.pid])  # a live child counts through its own stat
    child.wait()
    wall = time.perf_counter() - t0
    reaped = procstat.cpu_s(procstat.tree(me)) - c0  # a reaped one through ours
    assert 0.6 <= live <= 1.1
    assert 0.7 * 1.5 <= reaped <= wall + 0.1


def test_steal_and_rss_read():
    assert procstat.steal_s() >= 0
    assert procstat.rss_mb([os.getpid()]) > 1


def test_parse_metric_units():
    assert parse_metric("1,234") == 1234
    assert parse_metric("804.0 B") == 804
    assert parse_metric("2.0 KiB") == 2048
    assert abs(parse_metric("250 ms") - 0.25) < 1e-9
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 s (0.5 s, 0.5 s, 0.5 s (stage 0.0: task 3))") == 1.5
    assert parse_metric(None) == 0


def _op(i: int) -> dict:
    return dict(wall_s=10.0 + i, cpu_s=20.0 + i, steal_s=0.1, gc_s=0.2, heap_peak_mb=300.0,
                bytes_written=100, bytes_in=50, traced=bool(i % 2),
                spark=dict(jobs=5, tasks=9, task_cpu_s=1.0, shuffle_write_mb=0.5,
                           spill_mb=0.0),
                per_layer={"bronze.wall_s": 1.0, "stream.trigger_s": 2.0})


def test_every_metric_is_declared_and_reported_with_its_unit():
    spec = _spec()
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared_e2e == END_TO_END
    assert sorted(declared_layer) == sorted(PER_LAYER)

    ops = [_op(i) for i in range(4)]
    e2e = run.end_to_end_metrics(ops, setup_s=30.0, heap_live_mb=200.0)
    assert {k: u for k, (_, u) in e2e.items()} == END_TO_END
    assert e2e["latency_p50_s"][0] == 11.5 and e2e["write_amp"][0] == 2.0

    untraced = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]
    layer = run.per_layer_metrics(untraced, traced, peak_rss_mb=2000.0)
    assert {k: u for k, (_, u) in layer.items()} == declared_layer
    assert layer["bronze.wall_s"][0] == 1.0
    # traced ops 1 and 3 (11, 13 s) against untraced ops 0 and 2 (10, 12 s)
    assert abs(layer["trace.overhead_pct"][0] - 100 / 11) < 1e-9


def test_workload_reasons_are_one_sentence():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == sorted(run.WORKLOADS)
    for w in spec["workloads"]:
        assert w["why"] and "\n" not in w["why"] and len(w["why"]) <= 200


def test_runner_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the runner exits non-zero
    and prints no result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "medbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "medbench/run.py", "--workload", "backfill", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
