#!/usr/bin/env python3
"""pie_spark benchmark: one workload, closed loop, one driver, local[4].

    python3 perfbench/run.py --workload fresh_pii --seed 1 --seconds 15 --trace 0

Run from the repository root (the program is imported from the working
directory). Steps:

1. generate the seeded inputs (outside timing and outside set-up);
2. set up: build the Spark session, make the reference run (a default
   fresh run, the first and cold call) and the workload's warm-up runs;
3. run the workload back to back, as many runs as fit in ``--seconds``
   (at least three), checking the triples of every run against a
   reference hash and golden triples; times and memory are medians over
   the runs;
4. with ``--trace 1``, add one traced run that attributes Spark's
   per-stage task metrics to the program's layers.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Earlier lines carry the input
stats, per-run walls and steal, and the layer table. Everything the run
writes lives under ``.perfbench_work/`` (removed at exit) and, for
traced runs, the span dump under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

MIN_RUNS = 3            # timed runs at least, even past --seconds
PR_GATE = 0.95          # triple precision/recall gate (the spec's)
CORES = 4
DRIVER_MEM = "1g"
LAYERS = ("extract", "link", "canon", "graph", "io", "runner")


def _proc_age_s() -> float:
    """Seconds since this process started (/proc, clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _info(label: str, obj) -> None:
    print(f"# {label}: {json.dumps(obj, sort_keys=True)}", flush=True)


def _environment(root: str, work: str) -> dict[str, str]:
    """Process environment for the driver JVM and the Python workers:
    workers import the program from the checkout whatever their working
    directory, and every scratch file Spark writes stays in ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    return {
        "PYTHONPATH": root + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_LOCAL_DIRS": local,
        "PIE_LOCAL_DIR": local,
        "PIE_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        # the JVM that spark-submit runs first to build the driver command
        "SPARK_LAUNCHER_OPTS": _java_opts(tmp),
    }


def _java_opts(tmp: str) -> str:
    """JVM temp files (native libraries, artifacts) into ``tmp``, and no
    hsperfdata file under /tmp."""
    return f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _driver_java_opts(tmp: str) -> str:
    """The driver JVM: C1 JIT only, and a heap that is resident at its
    full size (``DRIVER_MEM``) from the start.

    With C2 as well, the JVM keeps compiling for about ten runs, using
    more CPU than the runs themselves; a run of the benchmark cannot warm
    up past that, and the compiler threads compete with the timed runs
    for the 4 cores. C1 code is close to its steady state after the first run
    (on 4 vCPUs: ~4.3 s a warm fresh_pii run against ~3.4 s once C2 has
    finished). The code cache keeps the size it has with C2: at C1's
    default of 48 MB, the classes Spark generates for every query fill it
    by the seventh run and the JVM stops compiling. A pre-touched heap
    keeps ``peak_rss_mb`` from following how far G1 has grown the heap."""
    return (f"{_java_opts(tmp)} -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch")


def _session(work: str):
    from pie_spark.session import build_session

    ev = os.path.join(work, "eventlog")
    os.makedirs(ev, exist_ok=True)
    tmp = os.environ["TMPDIR"]
    spark = build_session(
        app_name="perfbench",
        extra={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.driver.extraJavaOptions": _driver_java_opts(tmp),
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, ev


def _stop(spark) -> None:
    """Stop the session, then the driver JVM (it exits when its stdin
    closes), and wait for it; the JVM stops the Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool, work: str):
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.runs: list[dict] = []     # one per timed run that returned
        self.reference: str | None = None
        self._out_n = 0

    def _out_dir(self) -> str:
        self._out_n += 1
        return os.path.join(self.work, "out", f"run-{self._out_n}")

    def _check(self, res, golden) -> dict:
        """Hash and P/R of one run's triples (outside timing)."""
        import workloads as wl

        tbl = res.triples.toArrow()
        h = wl.triple_hash(tbl)
        got = wl.triple_keys(tbl)
        hit = len(got & golden)
        p = hit / len(got) if got else 0.0
        r = hit / len(golden) if golden else 0.0
        if self.reference is None:
            self.reference = h
        ok = h == self.reference and p >= PR_GATE and r >= PR_GATE
        return {"hash_ok": h == self.reference, "ok": ok, "precision": p,
                "recall": r, "triples": tbl.num_rows}

    def execute(self) -> dict:
        from telemetry import ProcTree, Tracer, cpu_counters, read_event_log, steal_pct

        phases: dict[str, float] = {}
        t = time.perf_counter()

        def lap(name: str) -> float:
            nonlocal t
            now = time.perf_counter()
            phases[name] = now - t
            t = now
            return phases[name]

        inp = self.w.generate(self.work, self.seed)
        lap("inputs")
        spark, ev_dir = _session(self.work)
        lap("session")
        sc = spark.sparkContext
        procs = ProcTree()
        golden = inp.corpus.golden
        try:
            # the reference run (a default fresh run) is the first, cold call
            sc.setJobGroup("reference", "reference run")
            self.reference = self.w.reference_hash(spark, inp, self.work)
            walls = [lap("reference")]
            sc.setJobGroup("prepare", "inputs")
            self.w.prepare(spark, inp, self.work)
            lap("prepare")
            _info("inputs", inp.stats)

            for i in range(self.w.warmup_runs):
                sc.setJobGroup(f"warm-{i}", "warm-up")
                res = self.w.run_once(spark, inp, self._out_dir())
                walls.append(res.wall_s)
                res.release()
            lap("warm-up")
            # set-up: process start to the first timed run, input generation
            # (corpus, dictionary, checkpoint cut) excluded
            setup_s = _proc_age_s() - phases["inputs"] - phases["prepare"]
            _info("warm-up walls", [round(x, 3) for x in walls])

            t_loop = time.perf_counter()
            n = 0
            # as many runs as fit in --seconds at the mean pace so far
            while n < MIN_RUNS or (
                (time.perf_counter() - t_loop) * (n + 1) / n <= self.seconds
            ):
                group = f"run-{n}"
                sc.setJobGroup(group, "timed run")
                out_dir = self._out_dir()
                cpu0 = cpu_counters()
                # the program's driver-side Python runs in this thread
                cpu_before = procs.cpu_s() + time.thread_time()
                self.attempted += 1
                n += 1
                procs.start_sampling()
                try:
                    res = self.w.run_once(spark, inp, out_dir)
                except Exception:
                    traceback.print_exc()
                    self.failed += 1
                    continue
                finally:
                    rss_mb = procs.stop_sampling() / 2**20
                cpu_s = procs.cpu_s() + time.thread_time() - cpu_before
                steal = steal_pct(cpu0, cpu_counters())
                sc.setJobGroup("check", "output check")
                try:
                    rec = self._check(res, golden)
                    rec.update(group=group, wall_s=res.wall_s, cpu_s=cpu_s,
                               steal_pct=steal, rss_mb=rss_mb,
                               rss_parts=procs.peak_parts)
                    if len(self.runs) == 0:
                        rec["out_bytes"], rec["out_files"] = self.w.output_bytes(
                            spark, res, out_dir
                        )
                finally:
                    res.release()
                if not rec["ok"]:
                    self.failed += 1
                self.runs.append(rec)
            lap("timed")

            traced = None
            if self.trace:
                tr = Tracer(spark, "traced", procs)
                res = self.w.run_traced(spark, inp, tr, self._out_dir())
                try:
                    sc.setJobGroup("check", "output check")
                    rec = self._check(res, golden)
                finally:
                    res.release()
                self.attempted += 1
                if not rec["ok"]:
                    self.failed += 1
                traced = (tr, res.wall_s, rec)
                lap("traced")
        finally:
            _stop(spark)
        lap("stop")
        groups = read_event_log(ev_dir)
        lap("event log")
        _info("phase seconds", {k: round(v, 3) for k, v in phases.items()})

        for r in self.runs:
            g = groups.get(r["group"])
            r["shuffle_write_mb"] = g.shuffle_write_bytes / 1e6 if g else 0.0
        _info("timed runs", [
            {k: (round(v, 4) if isinstance(v, float) else v) for k, v in r.items()}
            for r in self.runs
        ])
        if not self.runs:
            return {}

        def median(key):
            return statistics.median(r[key] for r in self.runs)

        wall = median("wall_s")
        if traced is not None:
            return self._layer_metrics(inp, groups, *traced, wall)
        first = self.runs[0]
        cpu = median("cpu_s")
        return {
            # CPU time, not wall time: see "Cost and noise" in README.md
            "cpu_s": (cpu, "s"),
            "docs_per_cpu_s": (inp.corpus.n_docs / cpu, "1/s"),
            "setup_s": (setup_s, "s"),
            # resident memory creeps up with every run in one JVM, so
            # over a fixed number of runs
            "peak_rss_mb": (
                statistics.median(r["rss_mb"] for r in self.runs[:MIN_RUNS]), "MiB"
            ),
            "shuffle_write_mb": (median("shuffle_write_mb"), "MB"),
            "output_bytes_per_triple": (first["out_bytes"] / first["triples"], "B"),
            "triple_precision": (median("precision"), "ratio"),
            "triple_recall": (median("recall"), "ratio"),
            "success_rate": ((self.attempted - self.failed) / self.attempted, "ratio"),
        }

    def _layer_metrics(self, inp, groups, tr, traced_wall, rec, wall) -> dict:
        spans = {s.name: s for s in tr.spans}
        out: dict[str, tuple[float, str]] = {}
        rows = []
        self_sum = 0.0
        for layer in LAYERS:
            sp = spans.get(layer)
            g = groups.get(sp.group) if sp else None
            self_s = tr.self_time(sp) if sp else 0.0
            self_sum += self_s
            worker_cpu = (
                sp.worker_cpu_s - sum(c.worker_cpu_s for c in tr.spans if c.parent == layer)
                if sp else 0.0
            )
            cpu = worker_cpu + (g.executor_cpu_s if g else 0.0)
            m = {
                "wall_s": (self_s, "s"),
                "cpu_s": (cpu, "s"),
                "jobs": (g.jobs if g else 0, "count"),
                "tasks": (g.tasks if g else 0, "count"),
                "task_skew": (g.task_skew() if g else 0.0, "ratio"),
                "shuffle_write_mb": ((g.shuffle_write_bytes if g else 0) / 1e6, "MB"),
                "spill_mb": ((g.disk_spill_bytes if g else 0) / 1e6, "MB"),
            }
            out.update({f"{layer}.{k}": v for k, v in m.items()})
            rows.append((layer, sp, self_s, m))
        def count(layer: str, key: str) -> int:
            return spans[layer].counts.get(key, 0) if layer in spans else 0

        # the distributed CC loop runs one `changed` count per iteration,
        # and the canon span runs no other count
        canon = groups.get(spans["canon"].group) if "canon" in spans else None
        cc_iters = sum(1 for a in (canon.actions.values() if canon else []) if a == "count")
        text_spans = count("extract", "text_spans")
        mentions_in = count("link", "mentions_in")
        linked = count("link", "linked")
        out.update({
            "extract.text_spans": (text_spans, "count"),
            "extract.mentions": (count("extract", "mentions"), "count"),
            "extract.us_per_span": (
                out["extract.cpu_s"][0] * 1e6 / text_spans if text_spans else 0.0, "us"
            ),
            "link.mentions_in": (mentions_in, "count"),
            "link.linked": (linked, "count"),
            "link.hit_ratio": (linked / mentions_in if mentions_in else 0.0, "ratio"),
            "canon.edges": (inp.dict_edges, "count"),
            "canon.components": (tr.counts.get("canon.components", 0), "count"),
            "canon.iterations": (cc_iters, "count"),
            "graph.triples": (count("graph", "triples"), "count"),
            "io.files_written": (count("io", "files_written"), "count"),
            "io.bytes_written_mb": (count("io", "bytes_written") / 1e6, "MB"),
            "runner.docs_reextracted": (count("runner", "docs_reextracted"), "count"),
            "wall_s": (wall, "s"),
            "docs_per_s": (inp.corpus.n_docs / wall, "1/s"),
            "trace_overhead_s": (traced_wall - wall, "s"),
            "layer_wall_sum_ratio": (self_sum / wall, "ratio"),
        })
        self._print_table(rows, self_sum, traced_wall, wall, rec)
        self._dump_spans(tr, out)
        return out

    def _print_table(self, rows, self_sum, traced_wall, wall, rec) -> None:
        print(f"# layer table ({self.w.name}, seed {self.seed}; traced triples "
              f"{'==' if rec['hash_ok'] else '!='} reference)")
        print(f"# {'layer':<10}{'wall_s':>9}{'self_s':>9}{'cpu_s':>9}{'jobs':>6}"
              f"{'tasks':>7}{'skew':>7}{'shuffle_mb':>12}{'spill_mb':>10}")
        for layer, sp, self_s, m in sorted(
            (r for r in rows if r[1] is not None), key=lambda r: r[1].start
        ):
            name = ("  " if sp.parent else "") + layer
            print(f"# {name:<10}{sp.wall_s:>9.3f}{self_s:>9.3f}{m['cpu_s'][0]:>9.3f}"
                  f"{m['jobs'][0]:>6}{m['tasks'][0]:>7}{m['task_skew'][0]:>7.2f}"
                  f"{m['shuffle_write_mb'][0]:>12.3f}{m['spill_mb'][0]:>10.3f}")
        print(f"# sum of layer self times {self_sum:.3f} s; traced wall "
              f"{traced_wall:.3f} s; untraced wall_s {wall:.3f} s; "
              f"sum/wall_s = {self_sum / wall:.3f}", flush=True)

    def _dump_spans(self, tr, metrics) -> None:
        out = os.path.join(os.getcwd(), ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.w.name}-s{self.seed}-trace.json")
        with open(path, "w") as f:
            json.dump({"workload": self.w.name, "seed": self.seed,
                       "spans": tr.to_json(),
                       "metrics": {k: v[0] for k, v in metrics.items()}}, f, indent=1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="few hundred docs per workload (smoke test)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pie_spark", "__init__.py")):
        print(f"perfbench: no pie_spark package under {root}; "
              "run from the repository root", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        # before Spark is imported: its JVM and workers inherit this
        os.environ.update(_environment(root, work))
        sys.path.insert(0, root)
        import workloads as wl

        if args.workload not in wl.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(wl.WORKLOADS)}", file=sys.stderr)
            return 2
        bench = Bench(wl.WORKLOADS[args.workload](args.tiny), args.seed,
                      args.seconds, bool(args.trace), work)
        metrics = bench.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    if not metrics or not all(math.isfinite(v) for v, _ in metrics.values()):
        print(f"perfbench: no checked run produced metrics ({bench.failed} of "
              f"{bench.attempted} runs failed)", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
