"""Traced mode: per-layer metrics measured around calls into each
layer's public functions.

Spans (name, start, end, parent, rep id) are kept in memory and written
once, at the end of the run, to ``.bench_cache/traces/``. Spark's own
numbers come from the live session's status stores (the application
store for jobs, stages and tasks; the SQL store for per-node metrics of
the executed plans). End-to-end metrics never come from a traced run;
the traced run reports the wall difference between traced and untraced
reps of the same workload as ``trace.overhead_s``.

Layers and the public calls timed for them:

- ``sources``: a column-pruned full read of the input (noop sink).
- ``plans``: the workload's entry point with a no-op ``row_fn``
  (everything but the kernel), one ``extract_df`` → parquet pass, and
  the Arrow-hop node metrics of a traced rep.
- ``kernel``/``extract``: ``parse_payload``, the main-content rules,
  ``text_with_spans`` and ``extract_turn``, single-threaded in the
  driver on a seeded sample of the workload's own payloads.
- ``operators`` (``dedup``, ``text``, ``fanout``): the stage times
  ``curate()`` records itself (``metrics_out=``) in the traced reps, and
  the near-dup stage split from outside into its three public calls
  (LSH candidates, Jaccard verify, connected components).
- ``jobs.curate``: the stage counts ``curate()`` returns.

The share of the untraced rep wall that the layer times account for is
printed to standard error.

A metric of a layer the workload does not run is reported as 0.
"""

from __future__ import annotations

import contextlib
import inspect
import json
import os
import random
import re
import statistics
import sys
import time

from . import session

#: metric name → unit, in report order; every traced run reports all
PER_LAYER = {
    "sources.scan_s": "s",
    "sources.input_mb": "MB",
    "plans.plumbing_s": "s",
    "plans.runner_overhead_s": "s",
    "plans.kernel_rows_share": "1",
    "plans.kernel_share_s": "s",
    "plans.arrow_mb_to_python": "MB",
    "plans.arrow_mb_from_python": "MB",
    "plans.task_skew": "1",
    "kernel.parse_us": "us",
    "kernel.rules_us": "us",
    "kernel.xml_fallback_share": "1",
    "extract.spans_us": "us",
    "extract.turn_us": "us",
    "extract.failure_share": "1",
    "text.normalize_s": "s",
    "dedup.exact_s": "s",
    "dedup.lsh_candidates_s": "s",
    "dedup.verify_s": "s",
    "dedup.components_s": "s",
    "text.quality_lang_s": "s",
    "text.pii_scrub_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "1",
    "dedup.prune_branch": "1",
    "fanout.roundrobin_exchanges": "count",
    "curate.rows.input": "count",
    "curate.rows.after_exact_dedup": "count",
    "curate.rows.after_near_dup_prune": "count",
    "curate.rows.after_quality_lang_gate": "count",
    "curate.rows.output": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "trace.overhead_s": "s",
    "trace.check_self_s": "s",
}

#: payloads in the single-thread kernel sample
KERNEL_SAMPLE = 1_500

_MB = 1024.0 * 1024.0


class Tracer:
    """In-memory spans; ``span`` nests, ``write`` dumps them once."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.rep_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        record = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "rep": self.rep_id,
        }
        self.spans.append(record)
        self._stack.append(len(self.spans) - 1)
        try:
            yield record
        finally:
            record["end"] = time.perf_counter()
            self._stack.pop()

    def timed(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median(self, name: str) -> float:
        values = self.durations(name)
        return statistics.median(values) if values else 0.0

    def self_times(self) -> list[float]:
        """Span duration minus the time its child spans cover (children
        of one span run one after another, never overlapping)."""
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def write(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self": own}
            for s, own in zip(self.spans, self.self_times())
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=0)


# ---------------------------------------------------------------------------
# Spark status stores (live session only)
# ---------------------------------------------------------------------------

class StatusStore:
    """Reads the live session's application and SQL status stores."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _seq(self, seq) -> list:
        return [seq.apply(i) for i in range(seq.size())]

    def stages(self) -> list:
        empty = self._gateway.new_array(self._jvm.double, 0)
        none = self._jvm.java.util.Collections.emptyList()
        return self._seq(self._app.stageList(None, False, False, empty, none))

    def mark(self) -> dict:
        """Highest job, stage and SQL execution ids so far."""
        return {
            "job": max((j.jobId() for j in self._seq(self._app.jobsList(None))), default=-1),
            "stage": max((s.stageId() for s in self.stages()), default=-1),
            "sql": max((e.executionId() for e in self._seq(self._sql.executionsList())),
                       default=-1),
        }

    def since(self, mark: dict) -> dict:
        """Spark metrics of everything that ran after ``mark``."""
        jobs = [j for j in self._seq(self._app.jobsList(None)) if j.jobId() > mark["job"]]
        stages = [s for s in self.stages()
                  if s.stageId() > mark["stage"] and s.status().toString() == "COMPLETE"]
        out = {
            "spark.jobs": float(len(jobs)),
            "spark.tasks": float(sum(s.numCompleteTasks() for s in stages)),
            "spark.executor_run_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "spark.executor_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "spark.gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "spark.shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / _MB,
            "spark.shuffle_read_mb": sum(s.shuffleReadBytes() for s in stages) / _MB,
            "spark.spill_mb": sum(s.diskBytesSpilled() for s in stages) / _MB,
            "plans.task_skew": self._task_skew(stages),
        }
        out.update(self._sql_metrics(mark["sql"]))
        return out

    def _task_skew(self, stages: list) -> float:
        """max ÷ median task duration of the heaviest stage."""
        if not stages:
            return 0.0
        heavy = max(stages, key=lambda s: s.executorRunTime())
        tasks = self._seq(self._app.taskList(heavy.stageId(), heavy.attemptId(), 100_000))
        durations = [t.duration().get() for t in tasks if t.duration().isDefined()]
        if not durations or statistics.median(durations) == 0:
            return 0.0
        return max(durations) / statistics.median(durations)

    def _sql_metrics(self, after: int) -> dict:
        sent = received = python_run = kernel_rows = 0.0
        round_robin = 0
        for e in self._seq(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= after:
                continue
            values = {}
            it = self._sql.executionMetrics(eid).iterator()
            while it.hasNext():
                pair = it.next()
                values[pair._1()] = pair._2()
            for node in self._seq(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                if name == "Exchange" and "RoundRobinPartitioning" in node.desc():
                    round_robin += 1
                for m in self._seq(node.metrics()):
                    text = values.get(m.accumulatorId())
                    if text is None:
                        continue
                    label = m.name()
                    if label == "data sent to Python workers":
                        sent += _total(text, _SIZE_UNITS)
                    elif label == "data returned from Python workers":
                        received += _total(text, _SIZE_UNITS)
                    elif label == "time to run Python workers":
                        python_run += _total(text, _TIME_UNITS)
                    elif label == "number of output rows" and name == "MapInArrow":
                        kernel_rows += float(text.replace(",", ""))
        return {
            "plans.arrow_mb_to_python": sent / _MB,
            "plans.arrow_mb_from_python": received / _MB,
            "fanout.roundrobin_exchanges": float(round_robin),
            # not reported: inputs of the kernel's share and row share
            "python_run_s": python_run,
            "kernel_rows": kernel_rows,
        }


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _total(text: str, units: dict) -> float:
    """The total of a formatted SQL metric, in base units: the first
    figure of its last line, e.g. ``"total (min, med, max ...)\\n1.5 MiB
    (...)"``."""
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]+)", text.strip().splitlines()[-1])
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * units[m.group(2)]


# ---------------------------------------------------------------------------
# layer probes
# ---------------------------------------------------------------------------

def _noop_row_fn(payload):
    return "", [], None


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / _MB


def _scan(spark, path: str, columns: list[str]) -> None:
    spark.read.parquet(path).select(*columns).write.format("noop").mode(
        "overwrite").save()


def kernel_probe(payloads: list) -> dict:
    """Single-thread kernel phase times (µs per payload) and shares on
    ``payloads``, via the public kernel and extract functions."""
    from inxs_spark import extract as ex
    from inxs_spark.kernel import ParseError, parse_payload, parse_xml

    rules = (ex.fused_main_content if ex.USE_FUSED_MAIN_CONTENT
             else ex.MAIN_CONTENT)
    parse_s = rules_s = spans_s = turn_s = 0.0
    markup = fallback = failures = 0
    clock = time.perf_counter
    for p in payloads:
        t0 = clock()
        _text, _spans, failure = ex.extract_turn(p)
        turn_s += clock() - t0
        failures += failure is not None
        if not p or not p.strip() or len(p) > ex.MAX_PAYLOAD_CHARS:
            continue
        t0 = clock()
        try:
            root, _kind = parse_payload(p)
        except ParseError:
            parse_s += clock() - t0
            continue
        parse_s += clock() - t0
        if root is None:
            continue
        markup += 1
        try:
            parse_xml(p)
        except ParseError:
            fallback += 1
        t0 = clock()
        try:
            transformed = rules(root)
        except Exception:
            rules_s += clock() - t0
            continue
        t1 = clock()
        ex.text_with_spans(transformed)
        spans_s += clock() - t1
        rules_s += t1 - t0
    n = max(len(payloads), 1)
    return {
        "kernel.parse_us": parse_s / n * 1e6,
        "kernel.rules_us": rules_s / n * 1e6,
        "kernel.xml_fallback_share": fallback / max(markup, 1),
        "extract.spans_us": spans_s / n * 1e6,
        "extract.turn_us": turn_s / n * 1e6,
        "extract.failure_share": failures / n,
    }


def _sample_payloads(workload) -> list:
    import pyarrow.parquet as pq

    texts = pq.read_table(workload.input, columns=["text"]).column("text").to_pylist()
    rnd = random.Random(f"kernel-sample-{workload.seed}")
    return rnd.sample(texts, min(KERNEL_SAMPLE, len(texts)))


def extract_probes(spark, runner, tracer: Tracer, store: StatusStore,
                   untraced_wall: float, rep_metrics: dict) -> dict:
    """Plumbing (the entry point with a no-op ``row_fn``), one
    ``extract_df`` → parquet pass (extract_unique), the kernel's share
    of the rep from Spark's Python-worker time, and the single-thread
    kernel sample."""
    from inxs_spark.plans.extract_pipeline import extract_df, extract_df_deduped

    wl = runner.workload
    deduped = wl.name == "extract_templated"
    entry = extract_df_deduped if deduped else extract_df
    out = {}
    plumbing_python_s = []
    for i in range(2):
        sink = os.path.join(runner.run_dir, f"plumbing-{i}")
        mark = store.mark()
        tracer.timed("plans.plumbing", lambda: entry(
            spark.read.parquet(wl.input), row_fn=_noop_row_fn).write.parquet(sink))
        plumbing_python_s.append(store.since(mark)["python_run_s"])
        if not deduped:
            sink = os.path.join(runner.run_dir, f"extract-{i}")
            tracer.timed("plans.extract_df", lambda: extract_df(
                spark.read.parquet(wl.input)).write.parquet(sink))
    out["plans.plumbing_s"] = tracer.median("plans.plumbing")
    if not deduped:
        out["plans.runner_overhead_s"] = (untraced_wall
                                          - tracer.median("plans.extract_df"))
    # the kernel's wall share: Python-worker time of the real rep minus
    # that of the no-op plumbing pass, spread over the task slots
    out["plans.kernel_share_s"] = max(
        rep_metrics.get("python_run_s", 0.0)
        - statistics.median(plumbing_python_s), 0.0
    ) / session.parallelism()
    with tracer.span("kernel.sample"):
        out.update(kernel_probe(_sample_payloads(wl)))
    kernel_rows = rep_metrics.get("kernel_rows", 0.0)
    out["plans.kernel_rows_share"] = kernel_rows / wl.rows
    return out


def curate_probes(spark, runner, tracer: Tracer, stage_walls: dict) -> dict:
    """Stage times of the curate funnel from ``curate()``'s own stage
    timers (``stage_walls``, read from its ``metrics_out=`` records of a
    traced rep), and the near-dup stage split from outside into its
    three public calls, each on the persisted output of the one before."""
    from pyspark import StorageLevel

    from inxs_spark.jobs.curate import curate
    from inxs_spark.operators.dedup import (
        AUTO_PRUNE_MIN_CORPUS,
        dedup_keep_one_per_cluster,
        exact_dedup,
        jaccard_verify,
        minhash_lsh_candidates,
    )
    from inxs_spark.operators.text import normalize_expr

    wl = runner.workload
    lvl = StorageLevel.MEMORY_AND_DISK
    threshold = inspect.signature(curate).parameters["jaccard_threshold"].default
    out = {
        "text.normalize_s": stage_walls["input"],
        "dedup.exact_s": stage_walls["after_exact_dedup"],
        "text.quality_lang_s": stage_walls["after_quality_lang_gate"],
        "text.pii_scrub_s": stage_walls["output"],
    }

    norm = "__norm_text"
    deduped = exact_dedup(spark.read.parquet(wl.input).withColumn(
        norm, normalize_expr("text")), "doc_id", norm).persist(lvl)
    n_deduped = deduped.count()
    with tracer.span("dedup.lsh_candidates"):
        cands = minhash_lsh_candidates(deduped, "doc_id", norm).persist(lvl)
        n_pairs = cands.count()
    # jaccard_verify's documented "auto" rule, from its public inputs
    prune = n_deduped >= AUTO_PRUNE_MIN_CORPUS and 8 * n_pairs <= n_deduped
    verified = jaccard_verify(deduped, cands, "doc_id", norm, threshold=threshold,
                              prune_to_candidates=prune)
    n_verified = tracer.timed("dedup.verify", verified.count)
    # components runs the (uncached) verify plan again, as in curate()
    tracer.timed("dedup.components",
                 dedup_keep_one_per_cluster(deduped, verified, "doc_id").count)
    spark.catalog.clearCache()

    for name in ("dedup.lsh_candidates", "dedup.verify", "dedup.components"):
        out[f"{name}_s"] = tracer.median(name)
    out["dedup.candidate_pairs"] = float(n_pairs)
    out["dedup.verified_pairs"] = float(n_verified)
    out["dedup.verify_yield"] = n_verified / n_pairs if n_pairs else 0.0
    out["dedup.prune_branch"] = float(prune)
    for stage_name, n in wl.stats.items():
        out[f"curate.rows.{stage_name}"] = float(n)
    return out


def _curate_stage_walls(metrics_out: str) -> dict:
    """Stage name → wall seconds, from the one record file that
    ``curate(..., metrics_out=)`` wrote."""
    mdir = os.path.join(metrics_out, "metrics")
    (name,) = [n for n in os.listdir(mdir) if n.endswith(".json")]
    with open(os.path.join(mdir, name)) as fh:
        return {r["stage"]: r["wall_s"] for r in map(json.loads, fh)}


def per_layer(spark, runner) -> dict:
    """Traced run body: interleaved untraced and traced reps, then the
    layer probes. Returns every PER_LAYER metric."""
    wl = runner.workload
    curate = wl.name == "curate_corpus"
    tracer = Tracer()
    store = StatusStore(spark)
    spark_metrics: dict = {}
    stage_walls: dict[str, list[float]] = {}

    @contextlib.contextmanager
    def traced():
        mark = store.mark()
        if curate:
            wl.metrics_out = os.path.join(runner.run_dir, f"metrics-{tracer.rep_id}")
        with tracer.span(f"rep.{wl.name}"):
            yield
        spark_metrics.clear()
        spark_metrics.update(store.since(mark))
        if curate:
            for stage, wall_s in _curate_stage_walls(wl.metrics_out).items():
                stage_walls.setdefault(stage, []).append(wall_s)
            wl.metrics_out = None

    untraced, traced_walls = [], []
    for i in range(wl.overhead_pairs):
        # alternate which kind goes first, so warm-up drift cancels
        for kind in ("timed", "traced") if i % 2 == 0 else ("traced", "timed"):
            if kind == "timed":
                untraced.append(runner.rep(spark, kind).wall_s)
                continue
            tracer.rep_id = i
            traced_walls.append(runner.rep(spark, kind, around=traced).wall_s)
            tracer.rep_id = None
    wall = statistics.median(untraced)

    metrics = dict.fromkeys(PER_LAYER, 0.0)
    metrics.update(spark_metrics)
    cols = ["doc_id", "text"] if curate else ["conv_id", "turn_idx", "text"]
    for _ in range(2):
        tracer.timed("sources.scan", _scan, spark, wl.input, cols)
    metrics["sources.scan_s"] = tracer.median("sources.scan")
    metrics["sources.input_mb"] = _dir_mb(wl.input)
    if curate:
        walls = {k: statistics.median(v) for k, v in stage_walls.items()}
        metrics.update(curate_probes(spark, runner, tracer, walls))
        layers = {f"curate stage {k}": v for k, v in walls.items()}
    else:
        metrics.update(extract_probes(spark, runner, tracer, store, wall, spark_metrics))
        layers = {k: metrics[k] for k in (
            "plans.plumbing_s", "plans.runner_overhead_s", "plans.kernel_share_s")}
    print(f"# accounting: {sum(layers.values()):.3f}s of the untraced wall "
          f"{wall:.3f}s (share {sum(layers.values()) / wall:.3f}) from "
          + ", ".join(f"{k} {v:.3f}s" for k, v in layers.items()),
          file=sys.stderr)
    metrics["trace.overhead_s"] = statistics.median(traced_walls) - wall
    metrics["trace.check_self_s"] = statistics.median(r.check_s for r in runner.reps)
    tracer.write(os.path.join(
        os.path.dirname(runner.run_dir), "traces", f"{wl.name}-s{wl.seed}.json"))
    return {name: {"value": float(metrics[name]), "unit": unit}
            for name, unit in PER_LAYER.items()}
