"""Per-layer attribution for the traced run, measured from outside the
program: Spark's own REST metrics (stages, tasks, SQL nodes) and an
in-process, single-threaded replay of the kernel's public functions.

Nothing here changes ``pdf2dom_spark``. The replay times calls into its
public functions; where a layer is a child call of another public function
(``doc_tokens`` and ``DocInterp.run`` inside ``extract_doc_parts``,
``finalize_docs`` inside ``parts_to_arrow``) the module attribute the
parent looks up is wrapped for the duration of the replay and restored
afterwards, so parent minus children gives the parent's self time.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager

MEASURE_GROUP = "perfbench-measure"
REPLAY_BATCH = 2000   # the job's spark.sql.execution.arrow.maxRecordsPerBatch


class Spans:
    """In-memory trace spans: (name, start, end, parent, run id)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.rows)
        self.rows.append({"name": name, "start": time.time(), "end": None,
                          "parent": self._stack[-1] if self._stack else None,
                          "run_id": self.run_id})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.rows[idx]["end"] = time.time()

    def add(self, name: str, start: float, end: float):
        """A closed span under the currently open one."""
        self.rows.append({"name": name, "start": start, "end": end,
                          "parent": self._stack[-1] if self._stack else None,
                          "run_id": self.run_id})

    def dump(self, path: str) -> None:
        child_s = [0.0] * len(self.rows)
        for r in self.rows:
            if r["parent"] is not None and r["end"] is not None:
                child_s[r["parent"]] += r["end"] - r["start"]
        out = []
        for i, r in enumerate(self.rows):
            dur = (r["end"] or r["start"]) - r["start"]
            out.append(dict(r, id=i, duration_s=round(dur, 6),
                            self_s=round(dur - child_s[i], 6)))
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)


# ---------------------------------------------------------------------------
# Spark REST (UI on for the traced run only, bound to loopback)
# ---------------------------------------------------------------------------

_UNITS = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_VAL_RE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """A SQL metric string ('4.2 s', '1,000', 'total (...)\\n14.3 KiB (...)')
    -> its total in base units (seconds, bytes, count)."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VAL_RE.match(text)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2), 1.0)


def _gmt(ts: str) -> float:
    import calendar

    base, ms = ts.replace("GMT", "").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) \
        + int(ms) / 1000.0


class Rest:
    def __init__(self, sc):
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.loads(r.read())


def spark_layers(sc, calls: list[dict], input_paths: list[str],
                 input_bytes: int) -> dict:
    """Stage, task and SQL metrics of the measured job group.

    ``calls``: one dict per measured call with wall-clock ``start``/``end``
    and ``kind`` ('job' or 'resume'). ``input_paths``/``input_bytes``: the
    measured jobs' input directories and their size on disk; the scan
    ratio counts bytes read by scans of those directories only (a table's
    read-back of its own output, or the broadcast lineage side of the
    resume anti-join, is not input)."""
    rest = Rest(sc)
    jobs = [j for j in rest.get("/jobs")
            if j.get("jobGroup") == MEASURE_GROUP]
    job_ids = {j["jobId"] for j in jobs}
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [s for s in rest.get("/stages")
              if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]
    durations, run_ms = [], 0.0
    for s in stages:
        tl = rest.get(f"/stages/{s['stageId']}/{s['attemptId']}"
                      "/taskList?length=1000000")
        for t in tl:
            if t.get("status") != "SUCCESS":
                continue
            durations.append(t["duration"] / 1000.0)
            run_ms += t["taskMetrics"]["executorRunTime"]
    durations.sort()
    wall = sum(c["end"] - c["start"] for c in calls)
    out = {
        "pipeline.tasks": len(durations),
        "pipeline.task_s_p50": durations[len(durations) // 2]
        if durations else 0.0,
        "pipeline.task_s_max": durations[-1] if durations else 0.0,
        "pipeline.slot_occupancy": (run_ms / 1000.0) / (4 * wall)
        if wall else 0.0,
        "pipeline.shuffle_mb": sum(s["shuffleWriteBytes"] for s in stages)
        / 1e6,
        "pipeline.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
    }

    execs = [e for e in rest.get(
        "/sql?details=true&planDescription=true&length=100000")
        if job_ids & set(e.get("successJobIds", []) +
                         e.get("failedJobIds", []) +
                         e.get("runningJobIds", []))]
    py = {"init": 0.0, "start": 0.0, "run": 0.0, "sent": 0.0, "ret": 0.0}
    files = written = commit = renumber = scanned = 0.0
    spans_write_end: list[float] = []
    resume_fed = 0.0
    resume_windows = [(c["start"], c["end"]) for c in calls
                      if c["kind"] == "resume"]
    for e in execs:
        nodes = {n["nodeId"]: n for n in e["nodes"]}
        parent = {ed["fromId"]: ed["toId"] for ed in e["edges"]}
        children: dict[int, list[int]] = {}
        for ed in e["edges"]:
            children.setdefault(ed["toId"], []).append(ed["fromId"])

        def mv(n, name):
            for m in n["metrics"]:
                if m["name"] == name:
                    return metric_value(m["value"])
            return 0.0

        start = _gmt(e["submissionTime"])
        in_resume = any(a <= start <= b for a, b in resume_windows)
        plan = e.get("planDescription", "")
        reads_input = any(loc.rstrip("/").endswith(p.rstrip("/"))
                          for loc in _locations(plan) for p in input_paths)
        for nid, n in nodes.items():
            name = n["nodeName"]
            if _is_python(name):
                py["init"] += mv(n, "time to initialize Python workers")
                py["start"] += mv(n, "time to start Python workers")
                py["run"] += mv(n, "time to run Python workers")
                py["sent"] += mv(n, "data sent to Python workers")
                py["ret"] += mv(n, "data returned from Python workers")
                if in_resume:
                    resume_fed += _python_input_rows(nid, nodes, children)
            elif name.startswith("Execute InsertIntoHadoopFsRelation"):
                files += mv(n, "number of written files")
                written += mv(n, "written output")
                commit += (mv(n, "task commit time")
                           + mv(n, "job commit time"))
            elif (name.startswith("Scan ") and reads_input
                  and not _under(nid, nodes, parent, "BroadcastExchange")
                  and not any(m["name"] == "number of partitions read"
                              for m in n["metrics"])):
                scanned += mv(n, "size of files read")
            elif name == "Exchange" and _feeds_window(nid, nodes, parent):
                renumber += (mv(n, "shuffle bytes written")
                             or mv(n, "data size"))
        if _insert_target(plan).endswith("/spans"):
            spans_write_end.append(start + e["duration"] / 1000.0)

    # lineage: wall time of each call after its spans write finished
    lineage_s = 0.0
    for c in calls:
        ends = [t for t in spans_write_end if c["start"] <= t <= c["end"]]
        if ends:
            lineage_s += c["end"] - max(ends)
    out.update({
        "pipeline.scan_bytes_ratio": scanned / max(input_bytes, 1),
        "pipeline.py_init_s": py["init"],
        "pipeline.py_start_s": py["start"],
        "pipeline.py_run_s": py["run"],
        "pipeline.py_mb_sent": py["sent"] / 1e6,
        "pipeline.py_mb_returned": py["ret"] / 1e6,
        "pagesplit.renumber_shuffle_mb": renumber / 1e6,
        "tables.files_written": files,
        "tables.mb_written": written / 1e6,
        "tables.commit_s": commit,
        "pipeline.lineage_s": lineage_s,
    })
    return out, resume_fed


def _is_python(name: str) -> bool:
    return name.startswith("MapIn") or name.startswith("PythonMapIn")


def _insert_target(plan: str) -> str:
    """The output path of the plan's InsertIntoHadoopFsRelationCommand."""
    m = re.search(r"\) Execute InsertIntoHadoopFsRelationCommand\n"
                  r"(?:[^\n]*\n)*?Arguments: ([^,\s]+)", plan)
    return m.group(1) if m else ""


def _locations(plan: str) -> list[str]:
    """Paths of the file scans in a plan description."""
    return [p.strip() for m in re.finditer(r"Location: \w+ \[([^\]]*)\]",
                                           plan)
            for p in m.group(1).split(",")]


def _under(nid, nodes, parent, name) -> bool:
    cur = parent.get(nid)
    while cur is not None and cur in nodes:
        if nodes[cur]["nodeName"] == name:
            return True
        cur = parent.get(cur)
    return False


def _feeds_window(nid, nodes, parent) -> bool:
    """An Exchange whose consumer chain reaches a Window before another
    Exchange: the per-document renumber of the page-split path."""
    cur = parent.get(nid)
    while cur is not None and cur in nodes:
        name = nodes[cur]["nodeName"]
        if name == "Window":
            return True
        if name == "Exchange" or _is_python(name):
            return False
        cur = parent.get(cur)
    return False


def _python_input_rows(nid, nodes, children) -> float:
    """Rows a Python node consumes, if it consumes documents (not the
    output of another Python node): the nearest row count below it."""
    queue = list(children.get(nid, []))
    rows = None
    while queue:
        cur = queue.pop(0)
        n = nodes.get(cur)
        if n is None:
            continue
        if _is_python(n["nodeName"]):
            return 0.0
        if rows is None:
            for m in n["metrics"]:
                if m["name"] in ("records read", "number of output rows"):
                    rows = metric_value(m["value"])
                    break
        queue.extend(children.get(cur, []))
    return rows or 0.0


# ---------------------------------------------------------------------------
# in-process replay of the Python layers
# ---------------------------------------------------------------------------

class _Clock:
    def __init__(self):
        self.s: dict[str, float] = {}
        self.n: dict[str, float] = {}

    def add(self, k, dt, n=0):
        self.s[k] = self.s.get(k, 0.0) + dt
        self.n[k] = self.n.get(k, 0.0) + n


@contextmanager
def _wrapped(clock: _Clock):
    """Time doc_tokens, DocInterp.run and finalize_docs where the kernel
    calls them (module attributes of pdf2dom_spark.extract)."""
    from pdf2dom_spark import extract, interp

    orig_tokens, orig_interp = extract.doc_tokens, extract.DocInterp
    orig_finalize = extract.finalize_docs

    def doc_tokens(spans):
        t0 = time.perf_counter()
        toks = orig_tokens(spans)
        clock.add("tokenize", time.perf_counter() - t0, len(toks))
        return toks

    class DocInterp(orig_interp):
        def run(self, tokens, concat=True):
            t0 = time.perf_counter()
            res = super().run(tokens, concat=concat)
            clock.add("interp", time.perf_counter() - t0, len(res[1]))
            glyphs = sum(len(ch[interp._K_ADV]) for ch in res[0])
            clock.add("glyphs", 0.0, glyphs)
            return res

    def finalize_docs(parts, columns=None):
        t0 = time.perf_counter()
        out, counts = orig_finalize(parts, columns=columns)
        n_events = sum(len(p[0]) for p in parts)
        clock.add("finalize", time.perf_counter() - t0,
                  len(out["order"]) - n_events)
        return out, counts

    extract.doc_tokens, extract.DocInterp = doc_tokens, DocInterp
    extract.finalize_docs = finalize_docs
    try:
        yield
    finally:
        extract.doc_tokens, extract.DocInterp = orig_tokens, orig_interp
        extract.finalize_docs = orig_finalize


def replay_kernel(docs: list, spans_rec: Spans) -> dict:
    """docs_to_arrow_spans' layers over (doc_id, spans) pairs, in batches
    of REPLAY_BATCH, single-threaded in this process."""
    from pdf2dom_spark import extract

    clock = _Clock()
    arrow_mb = 0.0
    with _wrapped(clock):
        for b0 in range(0, len(docs), REPLAY_BATCH):
            batch = docs[b0:b0 + REPLAY_BATCH]
            t0 = time.perf_counter()
            w0 = time.time()
            parts = [extract.extract_doc_parts(str(d), sp)
                     for d, sp in batch]
            t1 = time.perf_counter()
            fin0 = clock.s.get("finalize", 0.0)
            rb = extract.parts_to_arrow(parts, [d for d, _ in batch],
                                        [0] * len(batch))
            t2 = time.perf_counter()
            clock.add("parts", t1 - t0)
            clock.add("arrow", (t2 - t1) - (clock.s["finalize"] - fin0))
            arrow_mb += rb.nbytes / 1e6
            spans_rec.add("replay.kernel_batch", w0, time.time())
    s = clock.s
    return {
        "tokenizer.tokenize_s": s.get("tokenize", 0.0),
        "tokenizer.ops": clock.n.get("tokenize", 0.0),
        "interp.run_s": s.get("interp", 0.0),
        "interp.glyphs": clock.n.get("glyphs", 0.0),
        "interp.events": clock.n.get("interp", 0.0),
        "extract.records_s": s.get("parts", 0.0) - s.get("tokenize", 0.0)
        - s.get("interp", 0.0),
        "textpipe.finalize_s": s.get("finalize", 0.0),
        "textpipe.boxes": clock.n.get("finalize", 0.0),
        "extract.arrow_build_s": s.get("arrow", 0.0),
        "extract.arrow_mb": arrow_mb,
    }


def replay_pdfread(paths: list[str]) -> tuple[dict, list]:
    """pdfread.pdf_to_spans per file, as pdf_docs_df's parse step runs it."""
    import os

    from pdf2dom_spark.pdfread import pdf_to_spans

    parse_s, rejected, mb, docs = 0.0, 0, 0.0, []
    for p in paths:
        with open(p, "rb") as fh:
            data = fh.read()
        mb += len(data) / 1e6
        t0 = time.perf_counter()
        try:
            spans = pdf_to_spans(data, image_pixels=True)
        except Exception:
            spans = None
        parse_s += time.perf_counter() - t0
        if spans is None:
            rejected += 1
        else:
            docs.append((os.path.basename(p), spans))
    return {"pdfread.parse_s": parse_s, "pdfread.files": len(paths),
            "pdfread.rejected": rejected, "pdfread.mb_in": mb}, docs


def replay_jpegdec(payloads: list[bytes]) -> dict:
    from pdf2dom_spark.jpegdec import jpeg_to_rgba

    t0 = time.perf_counter()
    for p in payloads:
        jpeg_to_rgba(p)
    return {"jpegdec.decode_s": time.perf_counter() - t0,
            "jpegdec.images": len(payloads)}


def replay_split(docs: list, min_bytes: int, pages_per_group: int) -> dict:
    from pdf2dom_spark.pagesplit import split_doc

    t0 = time.perf_counter()
    groups = 0
    for did, spans in docs:
        groups += len(split_doc(did, spans, pages_per_group, min_bytes))
    return {"pagesplit.split_s": time.perf_counter() - t0,
            "pagesplit.split_docs": len(docs), "pagesplit.groups": groups}


def partition_groups(spark, docs: list, parts: int) -> list[list]:
    """The spans of ``docs`` grouped by the Spark partition the job's
    repartition(P, xxhash64(doc_id)) sends them to, in input order."""
    from pyspark.sql import functions as F

    if not docs:
        return []
    df = spark.createDataFrame([(d,) for d, _ in docs], "doc_id string")
    pid = {r.doc_id: r.pid for r in df.repartition(
        parts, F.xxhash64("doc_id")).select(
        "doc_id", F.spark_partition_id().alias("pid")).collect()}
    groups: dict[int, list] = {}
    for did, spans in docs:
        groups.setdefault(pid[did], []).append(spans)
    return list(groups.values())
