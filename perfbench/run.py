#!/usr/bin/env python3
"""End-to-end extraction benchmark: docs/s through ``job.main``.

Run from the repository root:

  python3 perfbench/run.py --workload pdf_ingest --seed 1 --seconds 10 \\
      --trace 0

Workloads (inputs are generated from the seed, see inputs.py):
  pdf_ingest   a directory of real PDFs (text, scanned-photo, ~1% damaged),
               ``job.main --input-pdfs --image-pixels``
  skew_resume  long-tailed rich docs: ``pipeline.run_checkpointed`` with a
               page-split threshold and a crash injected into a quarter of
               the partitions, then ``job.main --resume --split-min-bytes``

One process, one Spark ``local[4]`` session, one job in flight. After the
set-up (session plus a warm-up extraction on docs outside the measured
input), job calls run back to back on fresh inputs until ``--seconds`` have
passed and at least MIN_JOBS jobs ran. Then the outputs are checked
(checks.py). ``--trace 1`` turns the Spark UI on, reads its REST metrics
over loopback, replays the Python layers in-process (trace.py) and reports
per-layer metrics instead.

The last stdout line is the JSON result; the line before it carries the
details (per-job figures, input properties, probes, the baseline set
measured at the nearest calibration probe and whether this run is
comparable with it). Everything the run writes goes under
``.perfbench_work/`` in the current directory.
"""

import time

T_PROC = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("pdf_ingest", "skew_resume")
CORES = 4                 # local[4]
PARTITIONS = 8            # --partitions of every job call
PAGES_PER_GROUP = 8       # job.main's --pages-per-group default
MIN_JOBS = 2              # never a single job: one slow job must not decide a run
CHECK_DOCS = 6            # sampled docs compared per job output
REPLAY_DOCS = 300         # replay sample (skew_resume)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_metrics(root: str, trace: bool) -> dict:
    """name -> (unit, bound) of the metrics BENCHMARK.json declares for
    this mode (bound None for per-layer metrics)."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: (m["unit"], m.get("bound"))
            for m in spec["per_layer" if trace else "end_to_end"]}


# ---------------------------------------------------------------------------
# environment and session
# ---------------------------------------------------------------------------

def prepare_env(root: str, work: str) -> None:
    """Workers need the program on PYTHONPATH; Spark's scratch space and
    temp files stay inside the work dir."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, spark-submit's launcher included: temp files and no
    # hsperfdata outside the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)


def make_session(work: str, trace: bool):
    """The session job.main would build, started here so job calls reuse
    it (job.main keeps a pre-existing session)."""
    from pyspark.sql import SparkSession

    from pdf2dom_spark import memtune

    # malloc tuning before the JVM forks, as job.main does for its workers
    os.environ.update({k: v for k, v in memtune.tuned_env().items()
                       if k.startswith("MALLOC_")})
    memtune.tune_malloc()
    b = (SparkSession.builder.master(f"local[{CORES}]")
         .appName("pdf2dom-spark")
         .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
                 str(memtune.THRESHOLD_BYTES))
         .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
                 str(memtune.THRESHOLD_BYTES))
         .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
         .config("spark.sql.shuffle.partitions", str(PARTITIONS))
         .config("spark.driver.extraJavaOptions", "-Xms1g")
         .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
         .config("spark.sql.warehouse.dir",
                 os.path.join(work, "spark-warehouse"))
         .config("spark.driver.host", "127.0.0.1")
         .config("spark.driver.bindAddress", "127.0.0.1")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.ui.enabled", "true" if trace else "false"))
    if trace:
        b = (b.config("spark.ui.port", "0")
             .config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000")
             .config("spark.ui.retainedTasks", "10000000")
             .config("spark.sql.ui.retainedExecutions", "100000"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM pyspark launched, and wait for it:
    the gateway exits when its stdin closes."""
    from subprocess import TimeoutExpired

    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None or getattr(gw, "proc", None) is None:
        return
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=60)
    except TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """(largest VmHWM among the JVM's Python workers, the JVM's VmHWM)."""
    def hwm(pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0

    ppid = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    ppid[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    worker = 0.0
    for pid in ppid:
        cur, seen = ppid.get(pid), 0
        while cur and cur != jvm_pid and seen < 16:
            cur, seen = ppid.get(cur), seen + 1
        if cur == jvm_pid:
            worker = max(worker, hwm(pid))
    return worker, hwm(jvm_pid)


# ---------------------------------------------------------------------------
# the job calls
# ---------------------------------------------------------------------------

def job_args(workload: str, path: str, out: str) -> list[str]:
    src = (["--input-pdfs", path, "--image-pixels"]
           if workload == "pdf_ingest" else ["--input", path])
    return src + ["--output", out, "--partitions", str(PARTITIONS)]


def call_job(workload, spark, path, out, split_bytes=None, crash=None):
    """One complete job on one input: [(kind, start, end)] per call."""
    import job

    calls = []
    with contextlib.redirect_stdout(sys.stderr):
        if workload != "skew_resume":
            t0 = time.time()
            job.main(job_args(workload, path, out))
            calls.append(("job", t0, time.time()))
            return calls
        from pdf2dom_spark import tables
        from pdf2dom_spark.pipeline import run_checkpointed

        t0 = time.time()
        run_checkpointed(spark, tables.read_table(spark, path), out,
                         num_partitions=PARTITIONS,
                         split_min_bytes=split_bytes, fail_parts=crash,
                         pages_per_group=PAGES_PER_GROUP)
        t1 = time.time()
        job.main(job_args(workload, path, out)
                 + ["--resume", "--split-min-bytes", str(split_bytes)])
        calls += [("job", t0, t1), ("resume", t1, time.time())]
    return calls


def crash_plan(spark, chunks, rng):
    """Per chunk: a seeded quarter of the partitions to crash, always
    including the part_ids of the chunk's monsters (its largest documents);
    and the number of docs in them."""
    from pyspark.sql import functions as F

    rows = [(d, k) for k, c in enumerate(chunks) for d in c["doc_ids"]]
    df = spark.createDataFrame(rows, "doc_id string, k int").select(
        "doc_id", "k", F.pmod(F.xxhash64("doc_id"),
                              F.lit(PARTITIONS)).cast("int").alias("p"))
    part = {(r.k, r.doc_id): r.p for r in df.collect()}
    plans = []
    for k, c in enumerate(chunks):
        big = {part[(k, d)] for d in c["monsters"]}
        others = sorted(set(range(PARTITIONS)) - big)
        crash = big | set(rng.sample(others,
                                     max(PARTITIONS // 4 - len(big), 0)))
        docs = sum(1 for d in c["doc_ids"] if part[(k, d)] in crash)
        plans.append({"crash": crash, "crashed_docs": docs})
    return plans


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------

def run_checks(workload, man, jobs, rng) -> dict:
    import checks
    import inputs

    summary = {"outputs": 0, "docs_vs_single": 0, "docs_vs_oracle": 0,
               "images": 0, "missing_damaged": 0}
    for j in jobs:
        chunk = man["chunks"][j["chunk"]]
        out = j["out"]
        spans, lineage = checks.load(out)
        inv = checks.table_invariants(out, spans, lineage)
        j["lineage_docs"] = inv["lineage_docs"]
        summary["outputs"] += 1
        if workload == "skew_resume":
            checks.require(inv["parts"] == PARTITIONS,
                           f"{out}: {inv['parts']} lineage parts after "
                           f"resume, want {PARTITIONS}")
            # after the resume every input doc is there, once
            checks.require(inv["doc_ids"] == set(chunk["doc_ids"]),
                           f"{out}: output docs differ from the input's: "
                           f"{len(set(chunk['doc_ids']) - inv['doc_ids'])} "
                           f"missing, "
                           f"{len(inv['doc_ids'] - set(chunk['doc_ids']))} "
                           f"extra")
            checks.require(inv["lineage_docs"] == chunk["docs"],
                           f"{out}: lineage counts {inv['lineage_docs']} "
                           f"docs, the input has {chunk['docs']}")
        if workload == "pdf_ingest":
            files = chunk["files"]
            extra = inv["doc_ids"] - {f["doc_id"] + ".pdf" for f in files}
            checks.require(not extra, f"{out}: docs not in the input: "
                           f"{sorted(extra)[:5]}")
            text = [f for f in files if f["kind"] == "text"]
            summary["docs_vs_oracle"] += checks.compare_with_oracle(
                out, spans, checks.sample(rng, text, CHECK_DOCS))
            summary["images"] += checks.check_images(
                out, spans,
                [f["doc_id"] for f in files if f["kind"] == "image"],
                man["jpeg_dir"])
            summary["missing_damaged"] += checks.missing_are_damaged(
                out, inv["doc_ids"], files)
            continue
        want = set(checks.sample(rng, chunk["doc_ids"], CHECK_DOCS))
        want |= set(chunk.get("monsters", []))
        docs = [(d, sp) for d, sp in inputs.chunk_docs(workload, chunk)
                if d in want]
        summary["docs_vs_single"] += checks.compare_with_single(
            out, spans, docs)
    return summary


# ---------------------------------------------------------------------------
# traced run
# ---------------------------------------------------------------------------

def traced_layers(spark, workload, man, jobs, calls, plans, rec, rng):
    import checks
    import inputs
    import trace

    used = [man["chunks"][j["chunk"]] for j in jobs]
    in_bytes = 0
    for c in used:
        for f in os.listdir(c["path"]):
            in_bytes += os.path.getsize(os.path.join(c["path"], f))
    with rec.span("trace.spark_rest"):
        layers, resume_fed = trace.spark_layers(
            spark.sparkContext,
            [{"kind": k, "start": a, "end": b} for k, a, b in calls],
            [c["path"] for c in used], in_bytes)
    # layers a workload bypasses report 0
    layers.update({"pdfread.parse_s": 0.0, "pdfread.files": 0,
                   "pdfread.rejected": 0, "pdfread.mb_in": 0.0,
                   "jpegdec.decode_s": 0.0, "jpegdec.images": 0,
                   "pagesplit.split_s": 0.0, "pagesplit.split_docs": 0,
                   "pagesplit.groups": 0})
    with rec.span("trace.replay"):
        if workload == "pdf_ingest":
            c = used[0]
            paths = [os.path.join(c["path"], f["doc_id"] + ".pdf")
                     for f in c["files"]]
            with rec.span("replay.pdfread"):
                pr, docs = trace.replay_pdfread(paths)
            layers.update(pr)
            payloads = []
            for f in c["files"]:
                if f["kind"] == "image":
                    with open(os.path.join(man["jpeg_dir"],
                                           f["doc_id"] + ".jpg"), "rb") as fh:
                        payloads.append(fh.read())
            with rec.span("replay.jpegdec"):
                layers.update(trace.replay_jpegdec(payloads))
        else:
            pool = [(k, d) for k, c in enumerate(used) for d in c["doc_ids"]]
            pick = set(checks.sample(rng, pool, REPLAY_DOCS))
            docs = [(d, sp) for k, c in enumerate(used)
                    for d, sp in inputs.chunk_docs(workload, c)
                    if (k, d) in pick]
        with rec.span("replay.kernel"):
            layers.update(trace.replay_kernel(docs, rec))
        if workload == "skew_resume":
            mon = {m for c in used for m in c["monsters"]}
            big = [(d, sp) for c in used
                   for d, sp in inputs.chunk_docs(workload, c) if d in mon]
            with rec.span("replay.pagesplit"):
                layers.update(trace.replay_split(
                    big, man["split_min_bytes"], PAGES_PER_GROUP))
    with rec.span("trace.repeat_share"):
        layers["tokenizer.repeat_fragment_share"] = inputs.repeat_share(
            g for c in used for g in trace.partition_groups(
                spark, list(inputs.chunk_docs(workload, c,
                                              image_pixels=False)),
                PARTITIONS))

    # Python seconds the replay accounts for, scaled to the docs the
    # measured jobs fed the kernel
    replay_docs = max(len(docs), 1)
    py_s = sum(layers[k] for k in (
        "tokenizer.tokenize_s", "interp.run_s", "extract.records_s",
        "textpipe.finalize_s", "extract.arrow_build_s"))
    docs_in = sum(j["docs"] for j in jobs)
    crashed = sum(plans[j["chunk"]]["crashed_docs"] for j in jobs) \
        if plans else 0
    fed = docs_in + (resume_fed if workload == "skew_resume" else 0)
    scaled = py_s / replay_docs * fed
    if workload == "pdf_ingest":
        scaled += (layers["pdfread.parse_s"] / max(layers["pdfread.files"], 1)
                   * docs_in)
        scaled += layers["jpegdec.decode_s"] / max(
            layers["jpegdec.images"], 1) * sum(
            f["kind"] == "image" for c in used for f in c["files"])
    layers["pipeline.boundary_s"] = layers["pipeline.py_run_s"] - scaled
    layers["pipeline.resume_redo_ratio"] = (resume_fed / crashed
                                            if crashed else 0.0)
    resumes = [j["resume_s"] for j in jobs if j.get("resume_s")]
    layers["pipeline.resume_s"] = statistics.median(resumes) if resumes \
        else 0.0
    layers["replay.docs"] = len(docs)
    return layers


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    root = os.getcwd()
    missing = [p for p in ("job.py", "bench.py", "pdf2dom_spark/__init__.py",
                           "BENCHMARK.json")
               if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    prepare_env(root, work)

    import bench  # calibration probes only; bench.py is not run
    import inputs
    import trace

    import_s = time.time() - T_PROC
    trace_on = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    rec = trace.Spans(run_id)
    probes = {"before": {"calibration_s": bench.calibration_probe(),
                         "alloc_s": bench.alloc_probe()}}
    with rec.span("inputs"):
        man = inputs.prepare(args.workload, args.seed, work)
    run_dir = os.path.join(work, "runs", f"{run_id}-{int(time.time())}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    rng = random.Random(f"run:{args.workload}:{args.seed}")

    # set-up: session + warm-up extraction on docs outside the measured
    # input, timed from process start
    t0 = time.time()
    with rec.span("session"):
        spark = make_session(work, trace_on)
    try:
        with rec.span("setup"):
            spark.sparkContext.setJobGroup("perfbench-setup", "warm-up")
            with rec.span("warmup"), contextlib.redirect_stdout(sys.stderr):
                # a quarter-size chunk of the measured shape through
                # job.main (skew_resume: with its split threshold)
                import job
                split = man.get("split_min_bytes")
                job.main(job_args(args.workload, man["warm"],
                                  os.path.join(run_dir, "warm"))
                         + (["--split-min-bytes", str(split)] if split
                            else []))
        setup_s = import_s + time.time() - t0
        sc = spark.sparkContext
        jvm_pid = sc._gateway.proc.pid

        plans = None
        if args.workload == "skew_resume":
            sc.setJobGroup("perfbench-prep", "crash plan")
            plans = crash_plan(spark, man["chunks"], rng)

        # the measured window: one job in flight, fresh input per job
        jobs, calls, failed = [], [], 0
        t_win = time.time()
        with rec.span("window"):
            for k, chunk in enumerate(man["chunks"]):
                if (time.time() - t_win >= args.seconds
                        and len(jobs) + failed >= MIN_JOBS):
                    break
                out = os.path.join(run_dir, f"job{k}")
                sc.setJobGroup(trace.MEASURE_GROUP,
                               f"{args.workload} job {k}")
                try:
                    with rec.span(f"job{k}"):
                        cs = call_job(
                            args.workload, spark, chunk["path"], out,
                            split_bytes=man.get("split_min_bytes"),
                            crash=plans[k]["crash"] if plans else None)
                except Exception:
                    traceback.print_exc()
                    failed += 1
                    continue
                calls += cs
                wall = cs[-1][2] - cs[0][1]
                j = {"chunk": k, "out": out, "docs": chunk["docs"],
                     "wall_s": wall, "docs_per_s": chunk["docs"] / wall}
                if len(cs) > 1:
                    j["resume_s"] = cs[1][2] - cs[1][1]
                jobs.append(j)
        window_s = time.time() - t_win
        worker_mb, jvm_mb = peak_rss_mb(jvm_pid)

        layers = None
        if trace_on and jobs:
            with rec.span("trace"):
                layers = traced_layers(spark, args.workload, man, jobs,
                                       calls, plans, rec, rng)
    finally:
        shutdown(spark)

    correct, check_error, summary = True, None, {}
    try:
        with rec.span("checks"):
            summary = run_checks(args.workload, man, jobs, rng)
    except Exception as e:  # a failed check or a check that cannot run
        traceback.print_exc()
        correct, check_error = False, f"{type(e).__name__}: {e}"
    correct = correct and bool(jobs)
    probes["after"] = {"calibration_s": bench.calibration_probe(),
                       "alloc_s": bench.alloc_probe()}

    docs_in = sum(j["docs"] for j in jobs)
    docs_ok = sum(j.get("lineage_docs", 0) for j in jobs)
    e2e = {
        "docs_per_s": statistics.median(j["docs_per_s"] for j in jobs)
        if jobs else 0.0,
        "setup_s": setup_s,
        "docs_ok_ratio": docs_ok / docs_in if docs_in else 0.0,
        "worker_peak_rss_mb": worker_mb,
        "jvm_peak_rss_mb": jvm_mb,
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": CORES, "partitions": PARTITIONS,
        "window_s": window_s, "pool_exhausted": len(jobs) + failed
        == len(man["chunks"]) and window_s < args.seconds,
        "jobs": [
            {k: v for k, v in j.items() if k != "out"} for j in jobs],
        "end_to_end": e2e,
        "docs_failed_ratio": 1.0 - e2e["docs_ok_ratio"] if docs_in else 0.0,
        "inputs": man["properties"], "checks": summary,
        "check_error": check_error, "probes": probes,
    }
    base = _baseline().get(args.workload)
    match = None
    if base:
        match = baseline_match(
            base["sets"], probes,
            declared_metrics(root, False)["docs_per_s"][1])
        detail["baseline"] = {**match, **base}
        if not match["comparable"]:
            print(f"perfbench: calibration probes {match['run_probe_s']} "
                  f"are off the nearest baseline set's "
                  f"{match['set_probe_s']} s by more than the docs_per_s "
                  "bound: the host runs at another speed, compare these "
                  "figures with no baseline", file=sys.stderr)
    if layers is not None:
        layers["trace.docs_per_s"] = e2e["docs_per_s"]
        if match and e2e["docs_per_s"]:
            # against the untraced set measured at the nearest probe
            st = match["set_docs_per_s"]
            detail["tracing_overhead"] = {
                "value": st / e2e["docs_per_s"] - 1.0,
                "untraced_docs_per_s": st,
                "traced_docs_per_s": e2e["docs_per_s"],
                "set": match["set"], "set_probe_s": match["set_probe_s"],
                "run_probe_s": match["run_probe_s"],
                "comparable": match["comparable"]}
        detail["per_layer"] = layers
        tdir = os.path.join(work, "traces")
        os.makedirs(tdir, exist_ok=True)
        rec.dump(os.path.join(tdir, run_id + ".json"))
        detail["trace_file"] = os.path.relpath(
            os.path.join(tdir, run_id + ".json"), root)
    shutil.rmtree(run_dir, ignore_errors=True)

    values = (layers or {}) if trace_on else e2e
    metrics = {k: {"value": float(values[k]), "unit": unit}
               for k, (unit, _b) in declared_metrics(root, trace_on).items()
               if k in values}
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": correct, "attempted": len(jobs) + failed,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def baseline_match(sets: list, probes: dict, bound: float) -> dict:
    """The baseline set measured at the calibration probe nearest this
    run's, and whether the run is comparable with it: both of the run's
    probes (before and after) within ``bound`` of the set's median probe.
    Host speed moves docs/s more than it moves the probe (a probe 30%
    slower has come with half the docs/s), so a run off its set's probe
    tells nothing about the program."""
    run = [p["calibration_s"] for p in (probes["before"], probes["after"])]
    mid = statistics.mean(run)
    st = min(sets, key=lambda x: abs(x["probe_s"] - mid))
    return {"set": st["name"], "set_probe_s": st["probe_s"],
            "set_docs_per_s": st["end_to_end"]["docs_per_s"],
            "run_probe_s": run,
            "comparable": all(abs(p / st["probe_s"] - 1.0) <= bound
                              for p in run)}


def _baseline() -> dict:
    path = os.path.join(HERE, "baseline.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh).get("workloads", {})


if __name__ == "__main__":
    sys.exit(main())
