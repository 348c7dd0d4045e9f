"""The repository benchmark: one batch workload per process on local[nproc].

Run from the repository root:

    python3 perfbench/run.py --workload extract_mix --seed 1 --seconds 10 --trace 0

The process generates (or reuses) the seeded input, sets up a Spark session
several times (each set-up is session start plus a warm-up pass; the median
is ``setup_s``), runs the workload's untimed settle passes, then runs the
workload as a closed loop, one batch job at a time, for ``--seconds``. Every pass's output is checked; a pass that raises
or fails its check counts in ``failed`` and its time is discarded. With
``--trace 1`` the same passes are run and the per-layer metrics are
reported instead, and the spans are written to
``.perfbench_work/trace/<workload>-seed<seed>.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Every file the run
writes (inputs, Spark local dirs, job outputs) stays under
``.perfbench_work/`` in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUP_CYCLES = 3
SCAN_PASSES = 3
REPLAY_CAP = 20_000  # rows replayed through the kernels in the traced run

END_TO_END = {"setup_s": "s", "cpu_s": "s", "turns_per_cpu_s": "turns/s", "peak_rss_mb": "MB"}
STAGES = (
    "extract", "assemble", "dedup_exact", "dedup_near", "dedup_semantic",
    "decontaminate", "scrub", "mix", "pack",
)
OP_LEAVES = ("minhash_pairs", "clusters", "simhash", "ngram_capped", "semantic_prune")


def per_layer_units() -> dict[str, str]:
    from layers import KERNEL_KINDS

    units = {
        "run_s": "s", "turns_per_s": "turns/s", "setup_wall_s": "s",
        "session.start_s": "s", "session.warmup_s": "s", "session.first_start_s": "s",
        "scan.s": "s", "scan.input_bytes": "bytes",
        "udf.python_total_s": "s", "udf.python_boot_s": "s", "udf.python_init_s": "s",
        "udf.data_sent_bytes": "bytes", "udf.data_received_bytes": "bytes",
        "udf.rows_received": "count",
        "kernel.route_s": "s", "kernel.tail_s": "s", "kernel.rows": "count",
        "assemble.s": "s", "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
        "spill.bytes": "bytes", "task.skew": "ratio",
        "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.busy_share": "share",
        "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
        "commit.output_bytes": "bytes",
        "host.steal_s": "s", "host.load1": "load",
        "unattributed_s": "s", "trace.overhead_s": "s",
    }
    units.update({f"kernel.{k}.us_per_row": "us" for k in KERNEL_KINDS})
    for s in STAGES:
        units.update({f"stage.{s}.s": "s", f"stage.{s}.rows_out": "count"})
    for leaf in OP_LEAVES:
        units.update({f"op.{leaf}.s": "s", f"op.{leaf}.rows": "count"})
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(tmp: Path) -> dict[str, str]:
    """Environment for the JVM and Python workers, and the Spark conf that
    keeps every file Spark writes under ``tmp``."""
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = str(tmp)
    # get_spark defaults to a 48g driver. The inputs here are a few MB, and
    # a heap the workloads fill keeps the JVM's share of peak_rss_mb steady.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    return {
        "spark.local.dir": str(tmp / "local"),
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (0.0,) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM and
    the Python workers it forked have exited."""
    import layers
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = {proc.pid} | layers.descendants(proc.pid) if proc is not None else set()
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway server exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # workers exit once the JVM is gone; they are no longer our children,
    # so poll for them by pid
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in started):
        if time.monotonic() > deadline:
            for p in started:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            break
        time.sleep(0.1)


def traced_layers(wl, spark, spans, passes, run_s, cores, tmp) -> dict[str, float]:
    """Per-layer metrics for the workload, from the timed passes' status
    store records plus separate layer-only passes, each timed from outside."""
    import layers
    from workloads import digest, turn_name

    from docling_gfcr_spark import pipeline

    m: dict[str, float] = {}
    per_pass = [layers.group_metrics(spark, p["group"], p["pass"].seconds, cores) for p in passes]
    for key in {k for g in per_pass for k in g}:
        m[key] = layers.median(g.get(key, 0.0) for g in per_pass)

    # scan: the same input, scan only, into the noop sink
    scan = []
    for i in range(SCAN_PASSES):
        t0 = time.perf_counter()
        spans.timed(f"scan.{i}", lambda: wl.inp.write.format("noop").mode("overwrite").save())
        scan.append(time.perf_counter() - t0)
    m["scan.s"] = layers.median(scan)
    m["scan.input_bytes"] = float(wl.input_bytes())

    # kernels: replay the workload's rows in this process, outside Spark
    t = wl.table.slice(0, REPLAY_CAP).select(["conv_id", "turn_idx", "text", "tool"]).to_pydict()
    names = [turn_name(c, i) for c, i in zip(t["conv_id"], t["turn_idx"])]
    m.update(spans.timed("kernel.replay", lambda: layers.replay_kernels(t["text"], t["tool"], names)))

    # assemble only, over turns extracted once beforehand
    if wl.name == "corpus_build":
        ex_dir = str(tmp / "extracted")
        pipeline.extract_turns(wl.inp).write.mode("overwrite").parquet(ex_dir)
        ex = spark.read.parquet(ex_dir)
        times = []
        for i in range(SCAN_PASSES):
            t0 = time.perf_counter()
            spans.timed(f"assemble.{i}", lambda: digest(pipeline.assemble_conversations(ex)))
            times.append(time.perf_counter() - t0)
        m["assemble.s"] = layers.median(times)

    udf_wall = m.get("udf.python_total_s", 0.0) / cores
    if wl.name == "corpus_build":
        for s in STAGES:
            m[f"stage.{s}.s"] = layers.median(
                p["pass"].stage_spans[s][1] - p["pass"].stage_spans[s][0] for p in passes
            )
            m[f"stage.{s}.rows_out"] = float(passes[-1]["pass"].stage_spans[s][2])
        last = wl.out_dir(passes[-1]["index"])
        m["commit.output_bytes"] = float(sum(f.stat().st_size for f in last.rglob("*") if f.is_file()))
        m["unattributed_s"] = layers.median(
            p["pass"].seconds - sum(e - b for b, e, _ in p["pass"].stage_spans.values()) for p in passes
        )
        m.update(operator_leaves(spark, spans, str(last / "dedup_exact")))
    else:
        attributed = m["scan.s"] + udf_wall + m.get("assemble.s", 0.0)
        m["unattributed_s"] = run_s - attributed

    # the Python UDF profiler instruments only the UDF, so its cost is
    # measured on the extraction of the workload's input, warm, back to back
    def extract():
        t0 = time.perf_counter()
        out = digest(pipeline.extract_turns(wl.inp, mode="agent"))
        return time.perf_counter() - t0, out

    plain_s, plain = spans.timed("extract.unprofiled", extract)
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        prof_s, prof = spans.timed("extract.profiled", extract)
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    if prof != plain:
        raise RuntimeError(f"profiled extraction output {prof} differs from {plain}")
    m["trace.overhead_s"] = prof_s - plain_s
    return m


def operator_leaves(spark, spans, docs_dir: str) -> dict[str, float]:
    """Time the near-dup operator leaves one by one over the build's
    exact-deduplicated documents."""
    from docling_gfcr_spark.operators import dedup, similarity

    docs = spark.read.parquet(docs_dir)
    kw = dict(text_col="conv_text", id_col="conv_id")
    pairs_dir = f"{docs_dir}_pairs"
    leaves = {
        "minhash_pairs": lambda: dedup.minhash_lsh_pairs(
            docs, n_hashes=32, bands=8, k=5, hash_fn="md5", **kw
        ).write.mode("overwrite").parquet(pairs_dir),
        "clusters": lambda: dedup.connected_components(spark.read.parquet(pairs_dir)).count(),
        "simhash": lambda: dedup.simhash_pairs(docs, **kw).count(),
        "ngram_capped": lambda: dedup.ngram_jaccard_pairs(
            docs, k=3, threshold=0.5, hot_shingle_cap=100, **kw
        ).count(),
        "semantic_prune": lambda: similarity.semantic_prune(
            docs, dim=64, n_centroids=4, threshold=0.95, **kw
        ).count(),
    }
    m = {}
    for leaf, fn in leaves.items():
        t0 = time.perf_counter()
        rows = spans.timed(f"op.{leaf}", fn)
        m[f"op.{leaf}.s"] = time.perf_counter() - t0
        if rows is None:
            rows = spark.read.parquet(pairs_dir).count()
        m[f"op.{leaf}.rows"] = float(rows)
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import docling_gfcr_spark  # noqa: F401
        from jobs import corpus_build  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package cannot be imported from {ROOT}: {e}", file=sys.stderr)
        return 2

    import layers
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    tmp = WORK / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    conf = configure_env(tmp)
    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](WORK / "inputs", tmp / "scratch", args.seed)
    spans = layers.Spans(f"{args.workload}-seed{args.seed}")
    spark = None
    try:
        from docling_gfcr_spark.session import get_spark

        wl.prepare()
        setup = []
        for c in range(SETUP_CYCLES):
            if spark is not None:
                spark.stop()
            t0, c0 = time.time(), layers.tree_cpu_s(os.getpid())
            spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
            t1 = time.time()
            wl.bind(spark)
            wl.warmup()
            t2 = time.time()
            spans.add(f"setup.{c}", t0, t2)
            spans.add(f"setup.{c}.session", t0, t1, f"setup.{c}")
            spans.add(f"setup.{c}.warmup", t1, t2, f"setup.{c}")
            setup.append((layers.tree_cpu_s(os.getpid()) - c0, t2 - t0, t1 - t0, t2 - t1))

        passes, failed, attempted, hosts = [], 0, 0, []
        # untimed passes first: pass times of a fresh JVM fall for several
        # passes while the JIT compiles. They are checked and counted.
        for i in range(wl.settle_passes):
            attempted += 1
            try:
                p = wl.run_pass(i)
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            if p.problems:
                print(f"perfbench: settle pass {i} failed its check: {p.problems}", file=sys.stderr)
                failed += 1
        settled = attempted
        deadline = time.perf_counter() + args.seconds
        with layers.RssSampler(os.getpid()) as rss:
            while attempted == settled or time.perf_counter() < deadline:
                i, group = attempted, f"perfbench-pass-{attempted}"
                attempted += 1
                spark.sparkContext.setJobGroup(group, f"perfbench {args.workload} pass {i}")
                t0 = time.time()
                c0 = rss.program_cpu_s()
                try:
                    with layers.HostWindow() as host:
                        p = wl.run_pass(i)
                except Exception:
                    traceback.print_exc()
                    failed += 1
                    continue
                finally:
                    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                cpu_s = rss.program_cpu_s() - c0
                spans.add(f"pass.{i}", t0, t0 + p.seconds)
                for s, (b, e, _) in p.stage_spans.items():
                    spans.add(f"pass.{i}.stage.{s}", b, e, f"pass.{i}")
                hosts.append(host)
                if p.problems:
                    print(f"perfbench: pass {i} failed its check: {p.problems}", file=sys.stderr)
                    failed += 1
                    continue
                passes.append({"index": i, "group": group, "pass": p, "cpu_s": cpu_s})
        problems = wl.verify() if passes else ["no pass succeeded"]
        for msg in problems:
            print(f"perfbench: sampled check failed: {msg}", file=sys.stderr)

        times = [p["pass"].seconds for p in passes]
        q1, run_s, q3 = quartiles(times) if times else (0.0, 0.0, 0.0)
        cpu = [p["cpu_s"] for p in passes]
        cpu_q = quartiles(cpu) if cpu else (0.0, 0.0, 0.0)
        # CPU seconds per pass over the whole timed loop: a JVM garbage
        # collection lands in one pass but is paid for by all of them
        cpu_s = sum(cpu) / len(cpu) if cpu else 0.0
        setup_q = quartiles([s[0] for s in setup])
        wall_q = quartiles([s[1] for s in setup])
        print(f"# {args.workload} seed={args.seed} cores={cores} input_turns={wl.input_turns} "
              f"driver_mem={os.environ['SPARK_GRAFT_DRIVER_MEM']}")
        print(f"# run_s median={run_s:.4f} q1={q1:.4f} q3={q3:.4f} n={len(times)} "
              f"turns_per_s={wl.input_turns / run_s if run_s else 0.0:.1f} "
              f"attempted={attempted} failed={failed} digest={passes[0]['pass'].digest if passes else None}")
        print(f"# cpu_s mean={cpu_s:.4f} median={cpu_q[1]:.4f} q1={cpu_q[0]:.4f} q3={cpu_q[2]:.4f} n={len(cpu)}")
        print(f"# setup_s median={setup_q[1]:.4f} q1={setup_q[0]:.4f} q3={setup_q[2]:.4f} n={len(setup)} "
              f"wall median={wall_q[1]:.4f} q1={wall_q[0]:.4f} q3={wall_q[2]:.4f}")
        split = " ".join(f"{k}={v / 2**20:.0f}" for k, v in sorted(rss.peak_by_name.items()))
        print(f"# peak_rss_mb={rss.peak / 2**20:.1f} ({split}) steal_s={sum(h.steal_s for h in hosts):.2f} "
              f"load1={layers.median(h.load1 for h in hosts):.2f}")

        if args.trace:
            units = per_layer_units()
            values = dict.fromkeys(units, 0.0)
            if passes:
                values.update(traced_layers(wl, spark, spans, passes, run_s, cores, tmp))
            values["run_s"] = run_s
            values["turns_per_s"] = wl.input_turns / run_s if run_s else 0.0
            values["setup_wall_s"] = wall_q[1]
            values["session.start_s"] = layers.median(s[2] for s in setup)
            values["session.warmup_s"] = layers.median(s[3] for s in setup)
            values["session.first_start_s"] = setup[0][2]
            values["host.steal_s"] = layers.median(h.steal_s for h in hosts)
            values["host.load1"] = layers.median(h.load1 for h in hosts)
            if wl.name != "corpus_build" and passes and values["udf.rows_received"] != wl.input_turns:
                problems.append(f"udf.rows_received {values['udf.rows_received']} != {wl.input_turns} input turns")
            metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
            spans.write(
                WORK / "trace" / f"{args.workload}-seed{args.seed}.json",
                {"run_s": {"median": run_s, "q1": q1, "q3": q3, "n": len(times)},
                 "metrics": {k: v["value"] for k, v in metrics.items()}},
            )
        else:
            values = {
                "setup_s": setup_q[1],
                "cpu_s": cpu_s,
                "turns_per_cpu_s": wl.input_turns / cpu_s if cpu_s else 0.0,
                "peak_rss_mb": rss.peak / 2**20,
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        result = {
            "correct": bool(passes) and failed == 0 and not problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        try:
            stop_spark(spark)
        finally:
            wl.close()
            shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
