"""Extraction benchmark for handprint_spark.

Run from the repository root:

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics (README.md lists both). The last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the line before it records the run environment. The exit
code is 0 when every output was correct, 1 when not, and 2 when the
repository is not there.

The harness is one closed-loop driver process: it generates the
workload's input table from the seed (cached, never timed), sets up the
Spark session, runs WARMUP_PASSES untimed passes of the workload, then
repeats it until ``--seconds`` have passed and at least MIN_TIMED_PASSES
ran, each pass into fresh sinks and submitted only after the previous
one committed. Timings are medians over the timed passes.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 2  # session set-ups per run; setup_s is their median
# Pass times keep falling for a minute of work while the JVM warms, so a
# median depends on where on that slope its passes lie: every run warms
# up for, and then times, a fixed number of passes
WARMUP_PASSES = 3
MIN_TIMED_PASSES = 3
DRIVER_MEM = "3g"  # explicit, below host RAM (the session default is 16g)
OUTPUT_SAMPLE_DOCS = 160  # docs the traced output-layer probes use
KERNEL_SAMPLE = 300  # media objects the single-threaded kernel probes use


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _median(xs):
    return statistics.median(xs)


def _dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under a sink directory."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return files, size


def _noop(df) -> None:
    """Force a lazy DataFrame to run, writing nothing."""
    df.write.format("noop").mode("overwrite").save()


# --- environment ------------------------------------------------------------

def pin_environment(run_dir: str, nproc: int) -> None:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # no hsperfdata files: a JVM writes them under /tmp whatever its
        # tmpdir, both the Spark driver and spark-submit's command launcher
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })


def environment(nproc: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc, "loadavg": list(os.getloadavg()),
        "python": platform.python_version(), "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "master": f"local[{nproc}]",
        "driver_mem": DRIVER_MEM,
    }


def _tree_stats() -> dict[int, list[str]]:
    """/proc/<pid>/stat fields after the command name, for this process
    and all its descendants (driver JVM, Python workers)."""
    stats, parent = {}, {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2:].split()
            stats[int(p)], parent[int(p)] = fields, int(fields[1])
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        for child, ppid in parent.items():
            if ppid == pid and child not in tree:
                tree.add(child)
                frontier.append(child)
    return {pid: stats[pid] for pid in tree if pid in stats}


def tree_cpu_s() -> float:
    """User plus system CPU seconds of the process tree so far, reaped
    children included. Time the host steals from the VM is not in it."""
    ticks = sum(sum(int(f[i]) for i in (11, 12, 13, 14)) for f in _tree_stats().values())
    return ticks / os.sysconf("SC_CLK_TCK")


class PeakRss(threading.Thread):
    """Samples the resident memory of the process tree and keeps the
    peak."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        return sum(int(f[21]) for f in _tree_stats().values()) * self._page

    def run(self):
        while not self._halt.wait(0.1):
            self.peak = max(self.peak, self._tree_rss())

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / 2**20


# --- session ----------------------------------------------------------------

def _warm(spark, nproc: int) -> None:
    """Start every Python worker and import the engine in it."""

    def touch(batches):
        import handprint_spark.operators.extract  # noqa: F401

        yield from batches

    _noop(spark.range(0, 64 * nproc, numPartitions=nproc).mapInPandas(touch, "id long"))


def set_up(nproc: int, tracer=None):
    """SETUPS session set-ups; the first launches the JVM, the others
    restart the session on it. Returns the session and per-set-up
    (start, warm) seconds."""
    from handprint_spark.session import get_spark

    times = []
    for k in range(SETUPS):
        with _span(tracer, "session.start"):
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        with _span(tracer, "session.warm"):
            _warm(spark, nproc)
            t2 = time.perf_counter()
        times.append((t1 - t0, t2 - t1))
        if k < SETUPS - 1:
            spark.stop()
    return spark, times


def shut_down(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    with contextlib.suppress(Exception):  # a broken session still has a JVM to end
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --- child processes ----------------------------------------------------------
# The run starts processes of its own (input generator workers and their
# multiprocessing resource tracker, the driver JVM, Python workers the JVM
# forks). None may outlive the run: this process becomes the reaper of
# every orphaned descendant, and before it exits it ends and reaps them all.

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Reparent descendants whose parent exits to this process, not to
    init, so that reap_descendants() can wait for them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap_exited() -> bool:
    """Reap every child that has exited; True when no child is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            return False


def reap_descendants(grace_s: float = 10.0) -> None:
    """End every descendant process and wait until each has exited:
    SIGTERM, then SIGKILL after ``grace_s``."""
    from multiprocessing import resource_tracker

    tracker = resource_tracker._resource_tracker
    if getattr(tracker, "_pid", None) is not None:
        tracker._stop()  # closes its pipe and waits; it ignores SIGTERM
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 60.0)):
        deadline = time.monotonic() + wait_s
        while not _reap_exited() and time.monotonic() < deadline:
            for pid, fields in _tree_stats().items():
                if pid != os.getpid() and fields[0] != "Z":
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, sig)
            time.sleep(0.05)
        if _reap_exited():
            return


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # runs the finally blocks that reap


# --- workloads --------------------------------------------------------------
# One pass of a workload: input table on disk -> every output committed to
# a sink under ``out``. Returns the docs and media committed.

def pass_bulk(spark, data: str, out: str, tracer=None) -> dict:
    from handprint_spark.sources import checkpoints

    spans = spark.read.parquet(os.path.join(data, "spans"))
    with _span(tracer, "checkpoints.run_batch"):
        st = checkpoints.run_batch(spark, spans, os.path.join(out, "results"),
                                   os.path.join(out, "lineage"), batch_id=0)
    return {"docs": st["docs"], "media": st["media"]}


def pass_skewed(spark, data: str, out: str, tracer=None) -> dict:
    from pyspark.sql import Observation

    from handprint_spark.operators.extract import observed
    from handprint_spark.plans.partitioning import extract_skew_aware
    from handprint_spark.sources import table_sink

    spans = spark.read.parquet(os.path.join(data, "spans"))
    obs = Observation("skewed")
    results = observed(extract_skew_aware(spans, n_media_col="n_media"), obs)
    with _span(tracer, "table_sink.append(extract_skew_aware)"):  # the plan runs here
        table_sink.append(results, os.path.join(out, "results"))
    m = obs.get
    return {"docs": m["docs"], "media": m["media"]}


PASSES = {"bulk": pass_bulk, "skewed": pass_skewed}


# --- correctness (never timed) ----------------------------------------------

def load_expected(data: str) -> dict:
    import pyarrow.parquet as pq

    return {r["doc_id"]: r for r in pq.read_table(os.path.join(data, "expected")).to_pylist()}


def _read(path: str, columns: list[str]) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pylist()


def span_eq_frac(results_dir: str, expected: dict) -> float:
    """Share of expected doc_ids whose committed span sequence equals
    the expected one; a doc committed twice, or a doc that was not
    expected, counts against it."""
    got, bad = {}, set()
    for r in _read(results_dir, ["doc_id", "spans"]):
        if r["doc_id"] in got or r["doc_id"] not in expected:
            bad.add(r["doc_id"])
        got[r["doc_id"]] = r["spans"]
    eq = sum(1 for d, e in expected.items() if d not in bad and got.get(d) == e["spans"])
    return max(0.0, (eq - len(bad - expected.keys())) / len(expected))


# --- the untraced run -------------------------------------------------------

class Counter:
    def __init__(self):
        self.attempted = self.failed = 0

    def run(self, fn, *args, **kwargs):
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None


def run_passes(workload, spark, data, run_dir, seconds, expected, counter):
    """Warm-up passes, then timed passes until ``seconds`` have passed
    and MIN_TIMED_PASSES ran. Returns per-pass samples and the
    span_eq_frac of the checked passes (the first and the last)."""
    one = PASSES[workload]
    n_docs = len(expected)
    samples, fracs = [], []

    def attempt(k: int):
        out = os.path.join(run_dir, f"pass-{k}")
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        st = counter.run(one, spark, data, out)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
        if st is not None and st["docs"] != n_docs:
            print(f"perfbench: pass {k} committed {st['docs']} of {n_docs} docs", file=sys.stderr)
            counter.failed += 1
            st = None
        return out, st, wall, cpu

    for k in range(WARMUP_PASSES):  # caches, JIT, worker imports
        out, st, _, _ = attempt(k)
        if k == 0:
            fracs.append(span_eq_frac(os.path.join(out, "results"), expected) if st else 0.0)
        shutil.rmtree(out, ignore_errors=True)

    start, last, k = time.perf_counter(), None, WARMUP_PASSES
    while True:
        out, st, wall, cpu = attempt(k)
        k += 1
        if st is not None:
            samples.append({"wall": wall, "cpu": cpu, "docs": st["docs"], "media": st["media"],
                            "bytes": _dir_bytes(out)[1]})
        if last is not None:
            shutil.rmtree(last, ignore_errors=True)
        last = out
        if time.perf_counter() - start >= seconds and k - WARMUP_PASSES >= MIN_TIMED_PASSES:
            break
    fracs.append(span_eq_frac(os.path.join(last, "results"), expected) if st else 0.0)
    shutil.rmtree(last, ignore_errors=True)
    return samples, min(fracs)


def end_to_end(workload, spark, setups, data, run_dir, seconds, expected, counter) -> tuple:
    samples, frac = run_passes(workload, spark, data, run_dir, seconds, expected, counter)
    # wall-clock metrics are the traced run's: on a shared host they
    # spread more between runs than any bound allows (README.md)
    metrics = {"setup_s": (_median([s + w for s, w in setups]), "s")}
    if samples:
        metrics.update({
            "cpu_ms_per_doc": (_median([1e3 * s["cpu"] / s["docs"] for s in samples]), "ms"),
            "sink_bytes_per_doc": (_median([s["bytes"] / s["docs"] for s in samples]), "B"),
        })
    metrics["span_eq_frac"] = (frac, "ratio")
    walls = " ".join(f"{s['wall']:.2f}" for s in samples)
    cpus = " ".join(f"{s['cpu']:.2f}" for s in samples)
    print(f"perfbench: {workload}: {len(samples)} timed passes, wall s: {walls}, cpu s: {cpus}",
          file=sys.stderr)
    return metrics, frac == 1.0 and bool(samples)


# --- the traced run ---------------------------------------------------------

def per_call_us(fn, items, repeats: int = 3) -> float:
    """Single-threaded microseconds per call, median of ``repeats``
    sweeps over ``items``."""
    sweeps = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        sweeps.append((time.perf_counter() - t0) / len(items) * 1e6)
    return _median(sweeps)


def kernel_probes(data: str, expected: dict) -> dict:
    """The pure kernels, single-threaded on the Spark driver, over the first
    media objects and docs of the input in doc_id order."""
    from handprint_spark.kernels import normalizers as nz
    from handprint_spark.kernels.decoder import decode_media_bytes, decode_page
    from handprint_spark.kernels.preprocess import decode_media_text
    from handprint_spark.kernels.render import annotate
    from handprint_spark.kernels.textcmp import align_lines
    from handprint_spark.operators.service_fanout import FAN_H, FAN_W

    rows = sorted(_read(os.path.join(data, "spans"), ["doc_id", "media"]), key=lambda r: r["doc_id"])
    contents = [m["content"] for r in rows for m in r["media"]][:KERNEL_SAMPLE]
    texts = [t for t, err in map(decode_media_text, contents) if err is None]
    decoded = [(c, [b._asdict() for b in tr.boxes])
               for c, tr in ((c, decode_media_bytes(c)) for c in contents) if tr.error is None]
    docs = [expected[r["doc_id"]] for r in rows if r["doc_id"] in expected][:OUTPUT_SAMPLE_DOCS]
    trs = [decode_page(e["page_text"]) for e in docs]
    m = {
        "kernels.preprocess.decode_media_text_us": (per_call_us(decode_media_text, contents), "us"),
        "kernels.decoder.decode_page_us": (per_call_us(decode_page, texts), "us"),
        "kernels.textcmp.align_lines_us": (
            per_call_us(lambda e: align_lines(e["page_text"], e["gt_text"]), docs), "us"),
        "kernels.render.annotate_us": (
            per_call_us(lambda cb: annotate(cb[0], cb[1], 0.0, ("para", "line", "word"),
                                            trusted=True), decoded), "us"),
    }
    emitters = {
        "amazon-textract": lambda tr: nz.emit_textract(tr, FAN_W, FAN_H),
        "amazon-rekognition": lambda tr: nz.emit_rekognition(tr, FAN_W, FAN_H),
        "google": nz.emit_google,
        "microsoft": nz.emit_microsoft,
    }
    for svc, emit in emitters.items():
        m[f"kernels.normalizers.emit_us.{svc}"] = (per_call_us(emit, trs), "us")
    return m


def layer_probes(spark, data: str, run_dir: str, expected: dict, nproc: int, tracer,
                 counter) -> tuple[dict, bool]:
    """Each layer's public function over a materialised input, forced
    through a no-op sink inside its own span."""
    import inspect

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from handprint_spark.operators.compare import comparison_totals, comparison_tsv
    from handprint_spark.operators.extract import extract_documents, extracted_text, observed
    from handprint_spark.operators.normalize_json import PARSERS
    from handprint_spark.operators.render import annotated_media, doc_grids
    from handprint_spark.operators.service_fanout import SERVICES, service_raw_fanout
    from handprint_spark.plans.partitioning import extract_skew_aware
    from handprint_spark.sources import checkpoints, table_sink

    m, ok = {}, True

    def timed(name: str, fn):
        with tracer.span(name) as rec:
            counter.run(fn)
        return tracer.self_times()[rec["id"]]

    inp = spark.read.parquet(os.path.join(data, "spans")).persist()
    inp.count()

    # operators.extract (also the narrow baseline of plans.partitioning)
    obs = Observation("extract")
    busy = timed("operators.extract", lambda: _noop(observed(extract_documents(inp), obs)))
    got = obs.get
    m["extract.busy_s"] = (busy, "s")
    m["extract.docs"] = (got["docs"], "count")
    m["extract.media"] = (got["media"], "count")
    m["extract.errors"] = (got["errors"], "count")

    # plans.partitioning
    params = inspect.signature(extract_skew_aware).parameters
    threshold = params["skew_threshold"].default
    per_chunk = params["media_per_chunk"].default
    m["partitioning.skew_aware_s"] = (timed(
        "partitioning.extract_skew_aware",
        lambda: _noop(extract_skew_aware(inp, n_media_col="n_media"))), "s")
    m["partitioning.narrow_s"] = (busy, "s")
    heavy = inp.filter(F.col("n_media") > threshold).agg(
        F.count("*").alias("docs"),
        F.sum(F.ceil(F.col("n_media") / per_chunk)).alias("chunks")).collect()[0]
    m["partitioning.heavy_docs"] = (heavy["docs"], "count")
    m["partitioning.chunk_rows"] = (int(heavy["chunks"] or 0), "count")

    # sources.checkpoints: 7/8 of the docs, then a resume over all of them
    res, lin = os.path.join(run_dir, "ck-results"), os.path.join(run_dir, "ck-lineage")
    first = inp.filter(F.pmod(F.hash("doc_id"), F.lit(8)) != 7)
    n_first = first.count()
    st = {}
    m["checkpoints.run_batch_s"] = (timed(
        "checkpoints.run_batch",
        lambda: st.update(a=checkpoints.run_batch(spark, first, res, lin, 0))), "s")
    m["checkpoints.pending_s"] = (timed(
        "checkpoints.pending_work", lambda: _noop(checkpoints.pending_work(spark, inp, res))), "s")
    m["checkpoints.resume_s"] = (timed(
        "checkpoints.resume", lambda: st.update(b=checkpoints.run_batch(spark, inp, res, lin, 1))), "s")
    if "a" in st and "b" in st:
        extracted = st["a"]["docs"] + st["b"]["docs"]
        committed = len({r["doc_id"] for r in _read(res, ["doc_id"])})
        m["checkpoints.useful_frac"] = (committed / extracted, "ratio")
        m["checkpoints.lineage_rows"] = (len(_read(lin, ["n_docs"])), "count")
        exact = st["a"]["docs"] == n_first and st["b"]["docs"] == len(expected) - n_first
        if not exact or span_eq_frac(res, expected) != 1.0:
            print("perfbench: resume did not extract exactly the missing docs", file=sys.stderr)
            ok = False
    else:
        ok = False

    # sources.table_sink: the results the checkpoint probe committed, cached
    results = spark.read.parquet(res).persist()
    results.count()
    sink_dir = os.path.join(run_dir, "sink")
    m["table_sink.append_s"] = (timed(
        "table_sink.append", lambda: table_sink.append(results, sink_dir)), "s")
    files, size = _dir_bytes(sink_dir)
    m["table_sink.files"] = (files, "count")
    m["table_sink.bytes"] = (size, "B")
    results.unpersist()

    # output layers over a sample of ordinary docs
    ids = [r["doc_id"] for r in inp.filter(F.col("n_media") <= 32).select("doc_id")
           .orderBy("doc_id").limit(OUTPUT_SAMPLE_DOCS).collect()]
    sub = inp.filter(F.col("doc_id").isin(ids)).persist()
    sub.count()
    pages = extracted_text(extract_documents(sub), kinds=("ocr",)).select("doc_id", "text").persist()
    pages.count()
    m["service_fanout.emit_s"] = (timed(
        "service_fanout.service_raw_fanout", lambda: _noop(service_raw_fanout(pages))), "s")
    raw = service_raw_fanout(pages).persist()
    m["service_fanout.raw_bytes"] = (raw.agg(F.sum(F.length("raw"))).collect()[0][0], "B")
    boxes = 0
    for svc in SERVICES:
        parse = PARSERS[svc]
        part = raw.filter(F.col("service") == svc)
        m[f"normalize_json.parse_s.{svc}"] = (timed(
            f"normalize_json.{svc}", lambda: _noop(parse(part, "raw", "width", "height"))), "s")
        boxes += parse(part, "raw", "width", "height").agg(F.sum(F.size("boxes"))).collect()[0][0]
    m["normalize_json.boxes"] = (boxes, "count")
    raw.unpersist()
    gt = spark.read.parquet(os.path.join(data, "gt")).persist()
    gt.count()
    m["compare.totals_s"] = (timed(
        "compare.comparison_totals", lambda: _noop(comparison_totals(pages, gt))), "s")
    m["compare.tsv_s"] = (timed("compare.comparison_tsv", lambda: _noop(comparison_tsv(pages, gt))), "s")
    m["compare.lines"] = (
        comparison_totals(pages, gt).agg(F.sum("n_lines")).collect()[0][0], "count")
    m["render.annotated_s"] = (timed(
        "render.annotated_media", lambda: _noop(annotated_media(sub))), "s")
    ann = annotated_media(sub).persist()
    m["render.tiles"] = (ann.filter(F.col("annotated").isNotNull()).count(), "count")
    m["render.grid_s"] = (timed("render.doc_grids", lambda: _noop(doc_grids(ann))), "s")
    for df in (ann, gt, pages, sub, inp):
        df.unpersist()
    return m, ok


def traced(workload, spark, setups, data, run_dir, expected, nproc, tracer, counter):
    m = {
        "session.start_s": (_median([s for s, _ in setups]), "s"),
        "session.warm_s": (_median([w for _, w in setups]), "s"),
    }
    one, walls = PASSES[workload], {False: [], True: []}
    frac = 1.0
    # tracing overhead: a warm-up pass, then one untraced and one traced pass
    rss = PeakRss()
    rss.start()
    for k, use in enumerate((None, False, True)):
        out = os.path.join(run_dir, f"pass-{k}")
        t0 = time.perf_counter()
        st = counter.run(one, spark, data, out, tracer if use else None)
        if use is not None:
            walls[use].append(time.perf_counter() - t0)
        if use is False and st is not None:
            m["wall_s"] = (walls[False][0], "s")
            m["docs_per_s"] = (st["docs"] / walls[False][0], "1/s")
            m["media_per_s"] = (st["media"] / walls[False][0], "1/s")
        frac = min(frac, span_eq_frac(os.path.join(out, "results"), expected) if st else 0.0)
        shutil.rmtree(out, ignore_errors=True)
    m["peak_rss_mb"] = (rss.stop(), "MB")
    m["trace.traced_wall_s"] = (walls[True][0], "s")
    m["trace.overhead_s"] = (walls[True][0] - walls[False][0], "s")

    m.update(kernel_probes(data, expected))
    layers, ok = layer_probes(spark, data, run_dir, expected, nproc, tracer, counter)
    m.update(layers)
    kernel_us = m["kernels.preprocess.decode_media_text_us"][0] + m["kernels.decoder.decode_page_us"][0]
    # base: kernel time the extracted media need, spread over the task
    # slots, as a share of extract.busy_s
    m["extract.kernel_share"] = (
        kernel_us * 1e-6 * m["extract.media"][0] / nproc / m["extract.busy_s"][0], "ratio")
    return m, ok and frac == 1.0


# --- main -------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "handprint_spark", "__init__.py")):
        print("perfbench: run from the repository root; handprint_spark/ is missing",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    pin_environment(run_dir, nproc)
    adopt_orphans()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    try:
        return measure(args, run_dir, nproc)
    finally:
        reap_descendants()


def measure(args, run_dir: str, nproc: int) -> int:
    import gen

    t0 = time.perf_counter()
    data = gen.generate(args.workload, args.seed, os.path.join(WORK, "cache"), nproc)
    expected = load_expected(data)
    counter = Counter()
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        t1 = time.perf_counter()
        spark, setups = set_up(nproc, tracer)
        t2 = time.perf_counter()
        if args.trace:
            metrics, correct = traced(args.workload, spark, setups, data, run_dir, expected,
                                      nproc, tracer, counter)
            tracer.write(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics, correct = end_to_end(args.workload, spark, setups, data, run_dir,
                                          args.seconds, expected, counter)
        env = environment(nproc)
        t3 = time.perf_counter()
    finally:
        try:
            if spark is not None:
                shut_down(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(f"perfbench: generate {t1 - t0:.1f} s, set-up {t2 - t1:.1f} s, "
          f"workload {t3 - t2:.1f} s, shut-down {time.perf_counter() - t3:.1f} s", file=sys.stderr)
    correct = correct and counter.failed == 0
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, counter.attempted),
        "failed": counter.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
