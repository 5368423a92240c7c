"""Linkage benchmark: one workload, one seed, one driver process.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch-dense --seed 1 --seconds 10 --trace 0

It generates (or reads back from ``.bench_cache/``) the seeded corpus,
starts a host-sized local Spark session, folds the untimed warm-up (one
pass on ``batch-dense``, the bootstrap on ``stream``) into ``setup_s``,
then runs units — a full ``run_pipeline`` pass on
``batch-dense``, one ``StreamingER.apply_batch`` micro-batch on
``stream`` — in a closed loop for ``--seconds`` seconds of measured time.
Outputs are checked after every unit, outside the timed region. The last
line of stdout is one JSON object; ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` a separate traced run's per-layer metrics. Scratch
state lives under ``.bench_run/`` and is removed on exit. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time

import numpy as np
from pyspark.sql import functions as F

import eventlog
import stats
from spans import Tracer, installed, layer_times, patched

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PKG = "address_match_recommend_spark"
#: no unit starts once the process is this old, so a run ends well
#: inside its 180 s limit even on a slow host
DEADLINE_S = 120.0
F1_MIN = 0.99
MB = 1e6
#: per-layer metrics: layers measured from spans plus the event log
SPARK_LAYERS = (
    "canonicalize", "dedup", "tokenize", "tfidf.idf", "tfidf.vectors",
    "blocking.postings", "blocking.candidate_pairs", "scoring", "clustering",
)
TASK_KEYS = ("cpu_s", "shuffle_read_mb", "shuffle_write_mb", "jobs", "tasks")
FUNNEL = (
    "turns", "conversations", "representatives", "zero_token_convs", "tokens",
    "candidate_pairs", "scored", "jw_band", "matches", "clusters",
)
#: layers only the write path runs, measured per traced micro-batch,
#: with the counts each adds
STREAM_LAYERS = {
    "incremental": ("new_edges", "touched_members"),
    "streaming": ("versions", "bytes_written_mb"),
}
E2E_UNITS = {
    "setup_s": "s", "er_wall_s": "s", "turns_per_s": "turns/s", "f1": "ratio",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# -- host, session and process lifetime -----------------------------------


def driver_memory() -> str:
    """60% of MemTotal, capped at 4 GiB: the inputs are small and the
    host's memory is shared."""
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return f"{min(int(kb * 0.6 / 1024), 4096)}m"


def prepare_env(work: str) -> None:
    """Point every scratch path of the driver, the JVM and the Python
    workers into ``work`` and let the workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                "SPARK_GRAFT_EXTRA_JAVA_OPTS"):
        os.environ.pop(var, None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher's too: no /tmp/hsperfdata_*, temp files in work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None


def start_spark(work: str, trace: bool):
    from address_match_recommend_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(
        app_name="perfbench",
        cores=len(os.sched_getaffinity(0)),
        driver_memory=driver_memory(),
        extra_conf=conf,
    )


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid → (ppid, state) for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    rest = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            out[int(name)] = (int(rest[1]), rest[0])
    return out


def descendant_pids(pid: int) -> list[int]:
    table = _proc_table()
    found, frontier = [], [pid]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, (pp, _) in table.items() if pp == parent]
        found += kids
        frontier += kids
    return found


def peak_rss_mb() -> float:
    """Peak RSS of this Python driver plus the Spark driver JVM(s) it
    started (Python workers excluded)."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    for pid in descendant_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = fh.read()
        except OSError:
            continue
        if "\nName:\tjava" in "\n" + status:
            total_kb += next(
                int(l.split()[1]) for l in status.splitlines() if l.startswith("VmHWM:")
            )
    return total_kb * 1024 / MB


def stop_all(spark) -> None:
    """Stop the session, then end and wait for every process this run
    started (the JVM and its Python workers)."""
    pids = descendant_pids(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception as exc:  # keep shutting down; report on stderr
            print(f"spark.stop failed: {exc!r}", file=sys.stderr)
    for sig, grace in ((signal.SIGTERM, 20.0), (signal.SIGKILL, 10.0)):
        live = _live(pids)
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + grace
        while _live(pids) and time.monotonic() < end:
            time.sleep(0.1)
    if _live(pids):
        print(f"processes still alive: {_live(pids)}", file=sys.stderr)


def _live(pids: list[int]) -> list[int]:
    for pid in pids:  # reap our own exited children
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
    table = _proc_table()
    return [p for p in pids if p in table and table[p][1] != "Z"]


# -- outcome bookkeeping ---------------------------------------------------


class Outcome:
    """Units attempted and failed, and every failed check by name."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def unit(self, fn, *args):
        """Run one unit; an exception counts it failed and returns None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as exc:  # a failed unit is counted, not fatal
            self.failed += 1
            self.errors.append(f"unit {self.attempted}: {exc!r}")
            return None

    def check(self, ok: bool, what: str, count_unit: bool = True) -> bool:
        if not ok:
            self.errors.append(what)
            if count_unit:
                self.failed += 1
        return ok


# -- engine-facing helpers -------------------------------------------------


def scored_counts(scored) -> tuple[int, int, int]:
    """(scored pairs, JW band, matches) of a scored-pairs frame."""
    row = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("jw").alias("band"),
        F.sum(F.col("is_match").cast("long")).alias("m"),
    ).collect()[0]
    return int(row["n"]), int(row["band"]), int(row["m"] or 0)


def jw_band(scored, texts):
    """The JW band's text prefixes as the engine compared them, and the
    engine's ``jw`` values for them."""
    from address_match_recommend_spark.config import PipelineConfig

    prefix = F.substring("canonical_text", 1, PipelineConfig().jw_prefix_chars)
    ta = texts.select(F.col("conv_id").alias("conv_id_a"), prefix.alias("ta"))
    tb = texts.select(F.col("conv_id").alias("conv_id_b"), prefix.alias("tb"))
    rows = (
        scored.filter(F.col("jw").isNotNull())
        .select("conv_id_a", "conv_id_b", "jw")
        .join(ta, "conv_id_a")
        .join(tb, "conv_id_b")
        .collect()
    )
    return [r["ta"] for r in rows], [r["tb"] for r in rows], np.array([r["jw"] for r in rows])


def check_jw(outcome: Outcome, scored, texts) -> tuple[int, float]:
    """Recompute the band with ``jaro_winkler_batch`` and require the
    engine's values; returns (band pairs, kernel seconds)."""
    from address_match_recommend_spark.functions.jaro_winkler import jaro_winkler_batch

    a, b, engine = jw_band(scored, texts)
    t = time.perf_counter()
    direct = jaro_winkler_batch(a, b)
    wall = time.perf_counter() - t
    outcome.check(
        np.array_equal(direct, engine),
        f"jaro_winkler_batch differs from scored.jw on {int((direct != engine).sum())} band pairs",
        count_unit=False,
    )
    return len(a), wall


# -- workloads -------------------------------------------------------------


def timed_call(wl, fn, *args):
    """``fn(*args)`` timed; also records its epoch-ms window on ``wl``.
    Garbage of earlier units is collected first, so its release (and the
    JVM-side cleanup it triggers) does not land at a random point inside."""
    gc.collect()
    t0, c0 = time.time(), time.perf_counter()
    out = fn(*args)
    wall = time.perf_counter() - c0
    wl.window = (t0 * 1000 - 1, time.time() * 1000 + 1)
    return wall, out


class BatchWorkload:
    """Full ``run_pipeline`` passes over the whole corpus."""

    kind = "batch"

    def __init__(self, spark, corpus, outcome):
        from address_match_recommend_spark.datagen import corpus_to_spark
        from address_match_recommend_spark.plans import pipeline

        self.pipeline = pipeline
        self.outcome = outcome
        tables = corpus_to_spark(spark, corpus)
        self.transcripts, self.labeled = tables["transcripts"], tables["labeled_pairs"]
        self.turns = len(corpus.transcripts)
        self.funnel_ref = None
        self.last = None  # PipelineResult of the last pass
        self.window = None

    def exhausted(self) -> bool:
        return False

    def setup(self) -> None:
        self.run_unit(check_f1=False)

    def run_unit(self, check_f1: bool = True) -> dict | None:
        """One pass and its checks; the sample, or None when it failed."""
        from address_match_recommend_spark.plans.evaluate import pairwise_f1

        # looked up per call, so a traced pass runs the wrapped function
        got = self.outcome.unit(timed_call, self, self.pipeline.run_pipeline, self.transcripts)
        if got is None:
            return None
        wall, res = got
        pairs = res.pairs.count()
        n_clusters = res.clusters.select("entity_id").distinct().count()
        funnel = (pairs, *scored_counts(res.scored), n_clusters)
        if self.funnel_ref is None:
            self.funnel_ref = funnel
        ok = self.outcome.check(
            funnel == self.funnel_ref,
            f"funnel {funnel} differs from the first pass {self.funnel_ref}",
        )
        sample = {"wall": wall, "pairs": pairs, "turns": self.turns}
        if check_f1:
            sample["f1"] = pairwise_f1(self.labeled, res.clusters)["f1"]
            ok = self.outcome.check(
                sample["f1"] >= F1_MIN, f"f1 {sample['f1']:.4f} < {F1_MIN}"
            ) and ok
        self.last = res
        return sample if ok else None

    def f1(self, samples) -> float:
        """Median of the passes' pairwise F1."""
        return statistics.median(s["f1"] for s in samples)

    def frames(self) -> dict:
        """The last pass's frames the pair funnel counts."""
        r = self.last
        return {
            "conversations": r.conversations, "representatives": r.representatives,
            "scored": r.scored, "clusters": r.clusters, "texts": r.representatives,
            "metrics": {},
        }


class StreamWorkload:
    """``StreamingER.apply_batch`` micro-batches after a bootstrap."""

    kind = "stream"

    def __init__(self, spark, corpus, outcome, workload, seed, work):
        from address_match_recommend_spark.datagen import TRANSCRIPTS_DDL, corpus_to_spark
        from address_match_recommend_spark.streaming.incremental import StreamingER
        from corpus import stream_split

        self.outcome = outcome
        self.labeled = corpus_to_spark(spark, corpus)["labeled_pairs"]
        boot, self.batches = stream_split(corpus.transcripts, workload, seed)
        self.boot_df = spark.createDataFrame(boot, schema=TRANSCRIPTS_DDL)
        self.batch_dfs = [spark.createDataFrame(b, schema=TRANSCRIPTS_DDL) for b in self.batches]
        self.ingested = set(boot["conv_id"])
        self.next_batch = 0
        self.state_dir = os.path.join(work, "state")
        self.er = StreamingER(spark, self.state_dir)
        self.last_inc = None  # IncrementalResult of the last batch
        self.window = None

    def exhausted(self) -> bool:
        return self.next_batch >= len(self.batches)

    def setup(self) -> None:
        """The bootstrap: its pipeline pass runs every batch layer, so the
        first micro-batch after it is not slower than those that follow
        (see README.md)."""
        got = self.outcome.unit(timed_call, self, self.er.bootstrap, self.boot_df)
        if got is not None:
            print(f"bootstrap {got[0]:.1f} s")

    def run_unit(self) -> dict | None:
        batch_id = self.next_batch
        self.next_batch += 1
        captured = []

        def keep(fn):
            def wrapper(*args, **kwargs):
                captured.append(fn(*args, **kwargs))
                return captured[-1]
            return wrapper

        with patched([(("streaming.incremental", "incremental_update"), keep)]):
            got = self.outcome.unit(
                timed_call, self, self.er.apply_batch, self.batch_dfs[batch_id], batch_id
            )
        if got is None:
            return None
        self.ingested |= set(self.batches[batch_id]["conv_id"])
        if not self.outcome.check(len(captured) == 1, "apply_batch ran no incremental_update"):
            return None
        self.last_inc = captured[0]
        return {
            "wall": got[0],
            "pairs": self.last_inc.new_pairs.count(),
            "turns": len(self.batches[batch_id]),
        }

    def f1(self, samples) -> float:
        """Pairwise F1 of the state over the labeled pairs whose
        conversations were both ingested; also requires the state to hold
        every ingested conversation exactly once."""
        from address_match_recommend_spark.plans.evaluate import pairwise_f1

        clusters = self.er.read_clusters()
        ids = [r["conv_id"] for r in clusters.select("conv_id").collect()]
        self.outcome.check(
            len(ids) == len(set(ids)) and set(ids) == self.ingested,
            f"read_clusters has {len(ids)} rows, {len(set(ids))} distinct;"
            f" {len(self.ingested)} conversations ingested",
        )
        state = clusters.select("conv_id")
        labeled = self.labeled
        for side in ("conv_id_a", "conv_id_b"):
            labeled = labeled.join(state.withColumnRenamed("conv_id", side), side, "left_semi")
        return pairwise_f1(labeled, clusters)["f1"]

    def frames(self) -> dict:
        """The last batch's frames the pair funnel counts."""
        inc = self.last_inc
        return {
            "conversations": inc.new_conversations, "representatives": inc.new_representatives,
            "scored": inc.scored, "clusters": self.er.read_clusters(),
            "texts": inc.representatives, "metrics": inc.metrics,
        }

    def state_versions(self) -> tuple[int, int]:
        """(committed state versions, bytes in the newest one)."""
        vdirs = sorted(
            n for n in os.listdir(self.state_dir)
            if os.path.exists(os.path.join(self.state_dir, n, "_COMMIT"))
        )
        written = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(os.path.join(self.state_dir, vdirs[-1]))
            for f in files
        )
        return len(vdirs), written


def measure(wl, seconds: float, t_start: float) -> list[dict]:
    """Closed loop of units until ``seconds`` of measured time, at least
    one sample, and no unit started past ``DEADLINE_S``."""
    samples, measured, last, tries = [], 0.0, 0.0, 0
    while not wl.exhausted() and (measured < seconds or not samples):
        if time.monotonic() - t_start + last > DEADLINE_S:
            break
        s = wl.run_unit()
        tries += 1
        if s is not None:
            samples.append(s)
            measured += s["wall"]
            last = s["wall"]
        elif not samples and tries >= 3:
            break
    return samples


# -- the two run kinds -----------------------------------------------------


def end_to_end(wl, seconds: float, t_start: float, t_setup: float) -> dict:
    wl.setup()
    setup_s = time.monotonic() - t_setup
    samples = measure(wl, seconds, t_start)
    if not samples:
        return {}
    t_checks = time.monotonic()
    f1 = wl.f1(samples)
    wl.outcome.check(f1 >= F1_MIN, f"f1 {f1:.4f} < {F1_MIN}", count_unit=False)
    last = wl.frames()
    check_jw(wl.outcome, last["scored"], last["texts"])
    print(f"process {time.monotonic() - t_start:.1f} s, final checks"
          f" {time.monotonic() - t_checks:.1f} s")
    s = stats.summarize([x["wall"] for x in samples])
    print(f"er_wall_s: n={s['n']} median={s['median']:.6g}"
          + ("" if s["tail"] is None else f" p{s['tail_pct']}={s['tail']:.6g}")
          + " samples=" + ",".join(f"{x['wall']:.3f}" for x in samples))
    return {
        "setup_s": setup_s,
        "er_wall_s": s["median"],
        "turns_per_s": statistics.median(x["turns"] / x["wall"] for x in samples),
        "f1": f1,
        # printed, not reported: see README.md, "End-to-end metrics"
        "pairs_per_s": statistics.median(x["pairs"] / x["wall"] for x in samples),
    }


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in output order."""
    names = []
    for layer in SPARK_LAYERS + ("pipeline",):
        names += [f"{layer}.{k}" for k in ("wall_s", "self_s") + TASK_KEYS]
        if layer != "pipeline":
            names += [f"{layer}.task_skew", f"{layer}.rows_out"]
    names += ["jaro_winkler.wall_s", "jaro_winkler.pairs_per_s"]
    for layer, counts in STREAM_LAYERS.items():
        names += [f"{layer}.{k}" for k in ("wall_s", "self_s") + TASK_KEYS + counts]
    names += [f"funnel.{k}" for k in FUNNEL]
    names += ["blocking.pair_yield", "scoring.band_share", "trace.er_wall_s",
              "trace.pairs_per_s"]
    names += ["process.peak_rss_mb"]
    return names


def unit_of(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    if name.endswith("pairs_per_s"):
        return "pairs/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_share", "task_skew", "pair_yield")):
        return "ratio"
    return "count"


def traced(wl, spark, work: str) -> dict:
    """Warm up, run one traced unit, and read its per-layer numbers from
    its spans and the session's event log. Stops the session (to flush the
    log) before parsing."""
    tracer = Tracer(spark.sparkContext)
    wl.setup()
    with installed(tracer):
        sample = wl.run_unit()
    if sample is None:
        return {}

    f = wl.frames()
    n_scored, band, matches = scored_counts(f["scored"])
    tokens = tracer.results("tokenize")
    reps = f["representatives"]
    tokenized = None
    for t in tokens:
        ids = t.select("conv_id")
        tokenized = ids if tokenized is None else tokenized.unionByName(ids)
    funnel = {
        "turns": sample["turns"],
        "conversations": f["conversations"].count(),
        "representatives": reps.count(),
        "zero_token_convs": (reps.count() if tokenized is None
                             else reps.join(tokenized, "conv_id", "left_anti").count()),
        "tokens": sum(t.count() for t in tokens),
        "candidate_pairs": sample["pairs"],
        "scored": n_scored,
        "jw_band": band,
        "matches": matches,
        "clusters": f["clusters"].select("entity_id").distinct().count(),
    }
    rows_out = {layer: sum(out.count() for out in tracer.results(layer))
                for layer in SPARK_LAYERS}
    # the JW kernel timed directly on the band of every traced scoring call
    jw_pairs, jw_wall = 0, 0.0
    for span, args, out in tracer.calls:
        if span.layer == "scoring":
            n, w = check_jw(wl.outcome, out, args[2])
            jw_pairs, jw_wall = jw_pairs + n, jw_wall + w
    versions, written = wl.state_versions() if wl.kind == "stream" else (0, 0)
    # not steady to a tenth across runs (JVM heap growth), so a layer number
    rss = peak_rss_mb()
    stop_all(spark)

    log = eventlog.read_event_log(os.path.join(work, "eventlog"))
    tasks = eventlog.layer_totals(log, wl.window, default_layer="pipeline")
    times = layer_times(tracer.spans)
    m = {}
    for layer in SPARK_LAYERS + ("pipeline",) + tuple(STREAM_LAYERS):
        # a layer the unit never called reads 0
        got = times.get(layer, {}) | tasks.get(layer, {})
        for key in ("wall_s", "self_s") + TASK_KEYS:
            m[f"{layer}.{key}"] = got.get(key, 0)
        if layer in SPARK_LAYERS:
            m[f"{layer}.task_skew"] = got.get("task_skew", 1.0)
            m[f"{layer}.rows_out"] = rows_out[layer]
    m["jaro_winkler.wall_s"] = jw_wall
    m["jaro_winkler.pairs_per_s"] = jw_pairs / jw_wall if jw_wall > 0 else 0.0
    m["incremental.new_edges"] = f["metrics"].get("n_new_edges", 0)
    m["incremental.touched_members"] = f["metrics"].get("n_touched_members", 0)
    m["streaming.versions"] = versions
    m["streaming.bytes_written_mb"] = written / MB
    m.update({f"funnel.{k}": v for k, v in funnel.items()})
    m["blocking.pair_yield"] = matches / sample["pairs"] if sample["pairs"] else 0.0
    m["scoring.band_share"] = band / n_scored if n_scored else 0.0
    m["trace.er_wall_s"] = sample["wall"]
    m["trace.pairs_per_s"] = sample["pairs"] / sample["wall"]
    m["process.peak_rss_mb"] = rss
    return {k: m[k] for k in per_layer_names()}


# -- entry point ------------------------------------------------------------


def main(argv=None) -> int:
    t_start = time.monotonic()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"run from the root of a checkout that holds {PKG}/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import corpus

    if args.workload not in corpus.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(corpus.WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = corpus.WORKLOADS[args.workload]
    inputs = corpus.load(workload, args.seed, os.path.join(ROOT, ".bench_cache"))
    work = os.path.join(ROOT, ".bench_run", f"{workload.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)

    outcome = Outcome()
    spark = None
    try:
        t_setup = time.monotonic()
        spark = start_spark(work, trace=bool(args.trace))
        print(f"session start {time.monotonic() - t_setup:.1f} s")
        if workload.kind == "batch":
            wl = BatchWorkload(spark, inputs, outcome)
        else:
            wl = StreamWorkload(spark, inputs, outcome, workload, args.seed, work)
        if args.trace:
            metrics = traced(wl, spark, work)
            spark = None  # traced() stopped it to flush the event log
        else:
            metrics = end_to_end(wl, args.seconds, t_start, t_setup)
    finally:
        stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    for err in outcome.errors:
        print(f"check failed: {err}", file=sys.stderr)
    share = outcome.failed / outcome.attempted if outcome.attempted else 1.0
    reported = per_layer_names() if args.trace else list(E2E_UNITS)
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {unit_of(name)}")
    print(f"failed_share = {share:.6g} ratio ({outcome.failed}/{outcome.attempted})")
    print(json.dumps({
        "correct": not outcome.errors and bool(metrics),
        "attempted": max(outcome.attempted, 1),
        "failed": outcome.failed if outcome.attempted else 1,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()
                    if k in reported},
    }))
    return 0 if metrics else 1


if __name__ == "__main__":
    sys.exit(main())
