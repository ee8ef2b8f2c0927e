"""Extraction benchmark: one workload per run, through the public entry points.

    python3 perfbench/run.py --workload armored|encrypted|staged --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --workload all   # every workload, one table
    python3 perfbench/run.py --smoke          # self-test, tiny inputs

Workloads (inputs from ``inputs.py``, generated untimed in a child process
and cached under ``perfbench/.state``):

- ``armored``: ``stages.extract_fused`` over the ASCII-armored synth family,
  output written as parquet.
- ``encrypted``: ``stages.extract_fused`` over ``core.writer`` documents
  under per-document keys (plain, RC4, and one AES-256 R6 in 20), output
  written as parquet.
- ``staged``: ``pipeline.Pipeline(work_dir=<fresh dir>, pre_balanced=True)
  .run`` over the ``armored`` corpus, spans consumed by a ``noop`` write.

With ``--trace 0`` the run opens three sessions in turn (the first start
launches the JVM, the others restart the Spark context on it); each is set
up and then timed for a third of ``--seconds``, with a host-speed probe
before and after.  It reports the document rate, CPU per document and
median set-up time at the reference host speed (the values as measured are
printed beside them), and after the last session checks every timed output
document against ground truth, untimed.  With ``--trace 1`` it runs the kernel over
the workload's documents in two fresh processes (one traced, one not;
``kernel_trace.py``) and times passes in one session with a Spark event log
on, then prints the per-layer metrics.  The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed``, ``metrics``.  The exit code
is non-zero if any document's spans differ from ground truth.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import procstat  # noqa: E402
import sparklog  # noqa: E402

WORKLOADS = ("armored", "encrypted", "staged")
MIN_PASSES = 3
MAX_PASSES = 200
KERNEL_TRACE_DOCS = {"armored": ("corpus", 1000), "staged": ("corpus", 1000), "encrypted": ("pass0", 160)}

E2E_UNITS = {"docs_per_ref_s": "1/s", "cpu_ref_ms_per_doc": "ms", "peak_rss_mb": "MB", "setup_s": "s"}
# host probe time (procstat.host_probe_s) that defines host_speed 1.0: the
# probe's median on the 4-vCPU Xeon host the seed numbers were measured on
PROBE_REF_S = 0.4
STAGES = ("decode", "tokenize", "classify", "assemble")
KERNEL_LAYERS = ("core.xref", "core.tokenizer", "core.crypt", "core.filters", "core.content", "core.cmap", "core.extract")
LAYER_UNITS = (
    {f"{layer}.self_ms_per_doc": "ms/doc" for layer in KERNEL_LAYERS}
    | {
        "core.objects_per_doc": "count/doc",
        "core.objects_used_frac": "frac",
        "core.crypt.kdf_calls_per_doc": "count/doc",
        "core.crypt.kdf_cache_hit_frac": "frac",
        "core.streams_per_doc": "count/doc",
        "core.pages_per_doc": "count/doc",
        "core.kernel.ms_per_doc.p50": "ms",
        "core.kernel.ms_per_doc.p99": "ms",
        "core.error_rows_per_doc": "count/doc",
        "core.phase_coverage": "frac",
        "stages.python.run_ms_per_doc": "ms/doc",
        "stages.python.sent_bytes_per_doc": "B/doc",
        "stages.python.received_bytes_per_doc": "B/doc",
        "stages.fused.outside_kernel_ms_per_doc": "ms/doc",
        "stages.python.boot_init_s": "s",
    }
    | {f"pipeline.{s}_s": "s" for s in STAGES}
    | {
        "pipeline.checkpoint_write_bytes_per_doc": "B/doc",
        "pipeline.checkpoint_read_bytes_per_doc": "B/doc",
        "spark.exchanges": "count",
        "spark.shuffle_write_bytes_per_doc": "B/doc",
        "spark.shuffle_read_bytes_per_doc": "B/doc",
        "spark.gc_s": "s",
        "spark.spill_bytes": "B",
        "spark.task_s.max_over_p50": "ratio",
        "trace.overhead_frac": "frac",
    }
)


# -- host ---------------------------------------------------------------------


def host_block() -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        meminfo = dict(line.split(":", 1) for line in f)
    with open("/proc/cpuinfo") as f:
        model = next((line.split(":", 1)[1].strip() for line in f if line.startswith("model name")), platform.processor())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": int(meminfo["MemTotal"].split()[0]) // 1024,
        "cpu_model": model,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


def configure_env(host: dict) -> None:
    """Pin the session to this host: one process, ``nproc`` task slots, a
    driver heap that fits in memory, and every scratch file in the checkout."""
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    os.environ["SPARK_DRIVER_MEMORY"] = f"{min(1024, host['mem_total_mb'] // 8)}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    os.environ["TMPDIR"] = tmp


# -- Spark session lifecycle --------------------------------------------------


class Session:
    def __init__(self, host: dict, event_log: str | None = None) -> None:
        self.host = host
        self.event_log = event_log
        self.spark = None

    def start(self):
        from pdfparser_spark.session import build_session

        extra = {
            "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_log:
            os.makedirs(self.event_log, exist_ok=True)
            extra |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        self.spark = build_session(master=f"local[{self.host['nproc']}]", app_name="perfbench", extra=extra)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the context, then the JVM, then wait for every child to end."""
        from pyspark import SparkContext

        self.stop()
        children = procstat.descendants()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        procstat.wait_gone(children, timeout_s=30)


# -- passes -------------------------------------------------------------------


def load_df(spark, in_dir: str, name: str):
    """Read the set's part files (one partition each) and persist them."""
    from pdfparser_spark.schema import DOCUMENTS_RAW

    parts = [spark.read.schema(DOCUMENTS_RAW).parquet(p) for p in inputs.spark_parts(in_dir, name, spark.sparkContext.defaultParallelism)]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionAll(p)
    df = df.persist()
    df.count()
    return df


class Workload:
    """One pass = extraction of one document set into a fresh output
    directory: the fused adapter's parquet output, or the staged pipeline's
    checkpoint directory with its spans consumed by a noop write."""

    def __init__(self, name: str, in_dir: str, run_dir: str) -> None:
        self.name = name
        self.in_dir = in_dir
        self.run_dir = run_dir
        self.timed_sets = ["corpus"] if name != "encrypted" else inputs.set_names(in_dir, "pass")
        self.sinks: list[str] = []  # output directories, newest last
        self._made = 0

    def run_pass(self, spark, df) -> None:
        from pdfparser_spark.pipeline import Pipeline
        from pdfparser_spark.stages import extract_fused

        self._made += 1
        self.sinks.append(os.path.join(self.run_dir, f"pass{self._made}"))
        if self.name == "staged":
            out = Pipeline(spark, work_dir=self.sinks[-1], pre_balanced=True).run(df)["spans"]
            out.write.format("noop").mode("overwrite").save()
        else:
            extract_fused(df).write.parquet(self.sinks[-1])

    def drop_sinks(self, keep: int) -> None:
        """Delete all output directories but the newest ``keep`` (untimed)."""
        for d in self.sinks[: len(self.sinks) - keep]:
            shutil.rmtree(d, ignore_errors=True)
        del self.sinks[: len(self.sinks) - keep]

    def outputs(self, spark, dfs: dict) -> dict:
        """doc_id -> [(kind, text, media_ref)] from the kept timed outputs."""
        from pdfparser_spark.pipeline import Pipeline
        from pdfparser_spark.schema import DOCUMENTS_RAW

        if self.name == "staged":
            # the run manifest marks every stage done: this reads the last
            # timed pass's final table back without recomputing it
            out = Pipeline(spark, work_dir=self.sinks[-1], pre_balanced=True).run(dfs["corpus"])["spans"]
        else:
            out = spark.read.schema(DOCUMENTS_RAW).parquet(*self.sinks)
        return {
            r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in sorted(r["spans"] or (), key=lambda s: s["offset"])]
            for r in out.collect()
        }

    def expected(self) -> dict:
        exp = {}
        for name in self.timed_sets:
            t = inputs.load(self.in_dir, name)
            for doc_id, e in zip(t.column("doc_id").to_pylist(), t.column("expected").to_pylist()):
                exp[doc_id] = [tuple(s) for s in json.loads(e)]
        return exp


def setup(sess: Session, wl: Workload, k: int, sets: list[str]) -> tuple[float, dict, tuple]:
    """Session start + load and persist the inputs + warm-up pass.
    -> (seconds, timed-set DataFrames, warm-up window in epoch ms)."""
    t0 = time.perf_counter()
    spark = sess.start()
    dfs = {name: load_df(spark, wl.in_dir, name) for name in sets}
    warm = load_df(spark, wl.in_dir, f"warm{k}")
    w0 = time.time() * 1000
    wl.run_pass(spark, warm)
    window = (w0, time.time() * 1000)
    warm.unpersist()
    shutil.rmtree(wl.sinks.pop(), ignore_errors=True)
    return time.perf_counter() - t0, dfs, window


def timed_passes(spark, wl: Workload, dfs: dict, seconds: float, min_passes: int) -> dict:
    """Passes over the timed sets for ``seconds``: the corpus repeatedly, or
    each encrypted set once (its keys must stay cold).  Tree CPU and peak RSS
    cover exactly the passes."""
    names = list(dfs)
    counts = {name: df.count() for name, df in dfs.items()}
    walls, windows, docs, cpu = [], [], [], 0.0
    with procstat.PeakRss() as rss:
        while True:
            i = len(walls)
            if i >= (len(names) if wl.name == "encrypted" else MAX_PASSES):
                break
            if wl.name != "encrypted" and i >= min_passes and sum(walls) >= seconds:
                break
            name = names[i % len(names)]
            c0, w0, t0 = procstat.tree_cpu_s(), time.time() * 1000, time.perf_counter()
            wl.run_pass(spark, dfs[name])
            walls.append(time.perf_counter() - t0)
            windows.append((w0, time.time() * 1000))
            cpu += procstat.tree_cpu_s() - c0
            docs.append(counts[name])
            if wl.name != "encrypted":  # the same corpus again: keep the newest
                wl.drop_sinks(keep=1)
    return {"walls": walls, "windows": windows, "docs": docs, "cpu_s": cpu, "peak_rss_mb": rss.peak_mb}


def check(wl: Workload, spark, dfs: dict) -> tuple[int, int]:
    """-> (attempted, failed): documents missing from the timed output or
    whose (kind, text, media_ref) sequence differs from ground truth."""
    exp, got = wl.expected(), wl.outputs(spark, dfs)
    failed = sum(got.get(doc_id) != spans for doc_id, spans in exp.items())
    return len(exp), failed + len(set(got) - set(exp))


def quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


# -- the two modes ------------------------------------------------------------


def run_timed(host: dict, wl: Workload, seconds: float) -> tuple[dict, dict]:
    """Three sessions, each set up and then timed for a third of ``seconds``:
    spreading the passes over the run samples more of the host's slow
    drifts in speed than one block of passes would.  The host probe runs
    before and after each session's passes; the end-to-end times and rates
    are reported at the reference host speed (``PROBE_REF_S``), and as
    measured in the run info."""
    sess = Session(host)
    setups, per_session, probes = [], [], []
    try:
        for k in range(inputs.SETUPS):
            sets = wl.timed_sets[k :: inputs.SETUPS] if wl.name == "encrypted" else wl.timed_sets
            s, dfs, _ = setup(sess, wl, k, sets)
            setups.append(s)
            probes.append(procstat.host_probe_s(host["nproc"]))
            per_session.append(timed_passes(sess.spark, wl, dfs, seconds / inputs.SETUPS, min_passes=1))
            probes.append(procstat.host_probe_s(host["nproc"]))
            if k < inputs.SETUPS - 1:
                for df in dfs.values():
                    df.unpersist()
                sess.stop()
        attempted, failed = check(wl, sess.spark, dfs)
    finally:
        sess.shutdown()
    walls = [x for ps in per_session for x in ps["walls"]]
    docs = [x for ps in per_session for x in ps["docs"]]
    docs_per_s = statistics.median(docs) / statistics.median(walls)
    cpu_ms_per_doc = sum(ps["cpu_s"] for ps in per_session) * 1000 / sum(docs)
    host_speed = PROBE_REF_S / statistics.median(probes)
    metrics = {
        "docs_per_ref_s": docs_per_s / host_speed,
        "cpu_ref_ms_per_doc": cpu_ms_per_doc * host_speed,
        "peak_rss_mb": statistics.median(ps["peak_rss_mb"] for ps in per_session),
        "setup_s": statistics.median(setups) * host_speed,
    }
    info = {
        "docs_per_s": docs_per_s,
        "cpu_ms_per_doc": cpu_ms_per_doc,
        "setup_s_measured": statistics.median(setups),
        "host_speed": host_speed,
        "probe_s": probes,
        "passes": len(walls),
        "pass_s_quartiles": quartiles(walls),
        "docs_per_pass": docs,
        "setup_s_each": setups,
        "attempted": attempted,
        "failed": failed,
    }
    return metrics, info


def kernel_trace(wl: Workload, run_dir: str) -> tuple[dict, dict]:
    """Untraced and traced kernel runs over the same documents, one fresh
    process each, side by side (two of the host's cores)."""
    name, limit = KERNEL_TRACE_DOCS[wl.name]
    procs, outs = [], []
    for trace in (0, 1):
        out = os.path.join(run_dir, f"kernel{trace}.json")
        cmd = [sys.executable, os.path.join(HERE, "kernel_trace.py"), "--inputs", wl.in_dir,
               "--sets", name, "--limit", str(limit), "--trace", str(trace), "--out", out]
        if trace:
            cmd += ["--spans-out", os.path.join(STATE, "results", f"kernel-spans-{wl.name}.tsv")]
        procs.append(subprocess.Popen(cmd, cwd=ROOT))
        outs.append(out)
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"kernel_trace.py exited {codes}")
    summaries = []
    for o in outs:
        with open(o) as f:
            summaries.append(json.load(f))
    return summaries[0], summaries[1]


def run_traced(host: dict, wl: Workload, seconds: float) -> tuple[dict, dict]:
    from pdfparser_spark.pipeline import Pipeline

    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    k0, k1 = kernel_trace(wl, wl.run_dir)
    stage_windows: dict[str, list] = {s: [] for s in STAGES}
    orig_write = getattr(Pipeline, "_write", None)

    def timed_write(self, df, name):
        w0 = time.time() * 1000
        try:
            return orig_write(self, df, name)
        finally:
            stage_windows.setdefault(name, []).append((w0, time.time() * 1000))

    log_dir = os.path.join(wl.run_dir, "eventlog")
    sess = Session(host, event_log=log_dir)
    if orig_write is not None:
        Pipeline._write = timed_write
    try:
        _, dfs, warm_window = setup(sess, wl, 0, wl.timed_sets)
        p = timed_passes(sess.spark, wl, dfs, seconds, min_passes=MIN_PASSES)
        attempted, failed = check(wl, sess.spark, dfs)
    finally:
        if orig_write is not None:
            Pipeline._write = orig_write
        sess.shutdown()
    events = sparklog.load(log_dir)
    ts = sparklog.tasks(events)
    pass_ts = [sparklog.within(ts, w) for w in p["windows"]]
    all_ts = [t for group in pass_ts for t in group]
    warm_ts = sparklog.within(ts, warm_window)
    n = sum(p["docs"])
    passes = len(p["walls"])
    staged = wl.name == "staged"

    def stage_s(stage: str) -> float:
        timed = [b - a for a, b in stage_windows.get(stage, ()) if any(w[0] <= a <= w[1] for w in p["windows"])]
        return statistics.median(timed) / 1000 if timed else 0.0

    decode_windows = stage_windows.get("decode", ())
    checkpoint_read = sum(t.input_b for t in all_ts if not any(a <= t.launch_ms <= b for a, b in decode_windows))
    py_run = sparklog.sql_sum(all_ts, sparklog.PY_RUN) / n
    core = k1["self_ms_per_doc"]
    metrics = {f"{layer}.self_ms_per_doc": core.get(layer, 0.0) for layer in KERNEL_LAYERS} | {
        "core.objects_per_doc": k0["objects_per_doc"],
        "core.objects_used_frac": k1["objects_used_frac"],
        "core.crypt.kdf_calls_per_doc": k1["kdf_calls"] / k1["docs"],
        "core.crypt.kdf_cache_hit_frac": k1["kdf_hits"] / k1["kdf_calls"] if k1["kdf_calls"] else 0.0,
        "core.streams_per_doc": k0["streams_per_doc"],
        "core.pages_per_doc": k0["pages_per_doc"],
        "core.kernel.ms_per_doc.p50": k0["kernel_ms_p50"],
        "core.kernel.ms_per_doc.p99": k0["kernel_ms_p99"],
        "core.error_rows_per_doc": k0["error_rows_per_doc"],
        "core.phase_coverage": k1["phase_coverage"],
        "stages.python.run_ms_per_doc": py_run,
        "stages.python.sent_bytes_per_doc": sparklog.sql_sum(all_ts, sparklog.PY_SENT) / n,
        "stages.python.received_bytes_per_doc": sparklog.sql_sum(all_ts, sparklog.PY_RECEIVED) / n,
        "stages.fused.outside_kernel_ms_per_doc": py_run - k0["kernel_ms_mean"],
        "stages.python.boot_init_s": (
            sparklog.sql_sum(warm_ts, sparklog.PY_BOOT) + sparklog.sql_sum(warm_ts, sparklog.PY_INIT)
        ) / 1000,
    } | {f"pipeline.{s}_s": stage_s(s) for s in STAGES} | {
        "pipeline.checkpoint_write_bytes_per_doc": sum(t.output_b for t in all_ts) / n if staged else 0.0,
        "pipeline.checkpoint_read_bytes_per_doc": checkpoint_read / n if staged else 0.0,
        "spark.exchanges": sparklog.exchanges(events, p["windows"][0]),
        "spark.shuffle_write_bytes_per_doc": sum(t.shuffle_write_b for t in all_ts) / n,
        "spark.shuffle_read_bytes_per_doc": sum(t.shuffle_read_b for t in all_ts) / n,
        "spark.gc_s": sum(t.gc_ms for t in all_ts) / passes / 1000,
        "spark.spill_bytes": sum(t.spill_b for t in all_ts) / passes,
        "spark.task_s.max_over_p50": statistics.median(sparklog.skew(g) for g in pass_ts),
        "trace.overhead_frac": 1 - k0["wall_s"] / k1["wall_s"],
    }
    kernel_failed = len(set(k0["failed_ids"]) | set(k1["failed_ids"]))
    info = {
        "passes": passes,
        "attempted": attempted + k0["docs"],
        "failed": failed + kernel_failed,
        "kernel_docs": k0["docs"],
        "kernel_spans": k1["spans"],
        "missing_wrappers": k1["missing_wrappers"],
        "stage_write_wrapped": orig_write is not None,
    }
    return metrics, info


# -- several runs from one command ---------------------------------------------


def run_child(workload: str, seed: int, seconds: float, trace: int, scale: str) -> tuple[dict, dict] | None:
    """One run in a fresh process -> (result line, run info), or None if it failed."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--scale", scale]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        return None
    info = next(json.loads(line.split(": ", 1)[1]) for line in lines if line.startswith("workload "))
    return json.loads(lines[-1]), info


def run_all(seed: int, seconds: float, scale: str) -> int:
    """Every workload, end-to-end metrics only, one table."""
    cols = {"docs_per_s": "1/s", "cpu_ms_per_doc": "ms", **E2E_UNITS, "docs_failed_frac": "frac", "host_speed": ""}
    failed = False
    print(f"{'workload':10s} " + " ".join(f"{f'{k} {u}':>26s}" for k, u in cols.items()), flush=True)
    for w in WORKLOADS:
        got = run_child(w, seed, seconds, 0, scale)
        if got is None:
            print(f"{w:10s} run failed", flush=True)
            failed = True
            continue
        res, info = got
        failed |= not res["correct"]
        vals = {k: v["value"] for k, v in res["metrics"].items()} | info
        vals["docs_failed_frac"] = res["failed"] / res["attempted"]
        print(f"{w:10s} " + " ".join(f"{vals[k]:26.6g}" for k in cols), flush=True)
    return 1 if failed else 0


# -- self-test ----------------------------------------------------------------


def smoke() -> int:
    """Tiny inputs, every workload in both modes; checks metric names and
    units, phase coverage, and the exchange counts of the two Spark paths."""
    problems, results = [], {}
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(spec_path):
        with open(spec_path) as f:
            spec = json.load(f)
        for key, want in (("end_to_end", E2E_UNITS), ("per_layer", LAYER_UNITS)):
            if {m["name"]: m["unit"] for m in spec[key]} != want:
                problems.append(f"BENCHMARK.json {key} names or units differ from run.py")
    for w in WORKLOADS:
        for trace in (0, 1):
            got = run_child(w, 1, 1, trace, "tiny")
            if got is None:
                problems.append(f"{w} trace={trace}: failed")
                continue
            res = results[(w, trace)] = got[0]
            want = LAYER_UNITS if trace else E2E_UNITS
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace={trace}: metric/unit mismatch {sorted(set(got.items()) ^ set(want.items()))}")
            if not res["correct"]:
                problems.append(f"{w} trace={trace}: not correct")
            print(f"smoke {w} trace={trace}: {len(got)} metrics, correct={res['correct']}", flush=True)
    layer = {w: results.get((w, 1), {}).get("metrics", {}) for w in WORKLOADS}
    for w in ("armored", "encrypted"):
        cov = layer[w].get("core.phase_coverage", {}).get("value", 0)
        if cov < 0.9:
            problems.append(f"{w}: core.phase_coverage {cov:.3f} < 0.9")
    if layer["armored"].get("spark.exchanges", {}).get("value") != 0:
        problems.append("armored: spark.exchanges is not 0")
    if not layer["staged"].get("spark.exchanges", {}).get("value", 0) > 0:
        problems.append("staged: spark.exchanges is not > 0")
    for p in problems:
        print("FAIL", p, flush=True)
    print("smoke: " + ("FAIL" if problems else "ok"), flush=True)
    return 1 if problems else 0


# -- main ---------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description="pdfspark extraction benchmark")
    ap.add_argument("--workload", choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(inputs.SCALES), default="full")
    ap.add_argument("--smoke", action="store_true", help="self-test with tiny inputs")
    a = ap.parse_args()
    sys.path.insert(0, ROOT)
    try:
        import pdfparser_spark.pipeline  # noqa: F401
        import pdfparser_spark.stages  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if a.smoke:
        return smoke()
    if a.workload is None:
        ap.error("--workload is required")
    if a.workload == "all":
        return run_all(a.seed, a.seconds, a.scale)
    host = host_block()
    configure_env(host)
    print("host " + json.dumps(host), flush=True)
    family = "encrypted" if a.workload == "encrypted" else "armored"
    in_dir = inputs.ensure(ROOT, STATE, family, a.seed, a.scale, a.seconds, min(4, host["nproc"]))
    run_dir = os.path.join(STATE, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    wl = Workload(a.workload, in_dir, run_dir)
    for name in wl.timed_sets + [f"warm{k}" for k in range(inputs.SETUPS)]:
        inputs.spark_parts(in_dir, name, host["nproc"])
    try:
        metrics, info = (run_traced if a.trace else run_timed)(host, wl, a.seconds)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    units = LAYER_UNITS if a.trace else E2E_UNITS
    attempted, failed = info["attempted"], info["failed"]
    ok = failed == 0
    if a.trace and metrics["core.crypt.kdf_cache_hit_frac"] != 0:
        print("perfbench: the traced kernel hit the key-derivation cache", file=sys.stderr)
        ok = False
    record = {"host": host, "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "scale": a.scale, "metrics": metrics, "docs_failed_frac": failed / attempted, **info}
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(os.path.join(STATE, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(f"workload {a.workload} seed {a.seed}: " + json.dumps(info), flush=True)
    if not a.trace:
        print(f"{'docs_per_s':42s} {info['docs_per_s']:14.6g} 1/s (as measured)", flush=True)
        print(f"{'cpu_ms_per_doc':42s} {info['cpu_ms_per_doc']:14.6g} ms (as measured)", flush=True)
        print(f"{'setup_s_measured':42s} {info['setup_s_measured']:14.6g} s (as measured)", flush=True)
        print(f"{'host_speed':42s} {info['host_speed']:14.6g} (reference probe time / this run's)", flush=True)
    for k, v in metrics.items():
        print(f"{k:42s} {v:14.6g} {units[k]}", flush=True)
    print(f"{'docs_failed_frac':42s} {failed / attempted:14.6g} frac ({failed}/{attempted})", flush=True)
    print(json.dumps({
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
