"""The three benchmark workloads: one timed job call each, plus the
per-rep output check that feeds ``failed``.

A workload is prepared once per run (inputs generated or read from the
cache, expected outputs computed serially), outside every timed number.
``rep(spark, out)`` is the timed unit: one call of the program's public
entry point, from the input files to the result written under ``out``.
``check(out)`` reads what the rep wrote and returns the number of rows
whose output is wrong (missing, extra or different).
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import inputs

#: input sizes. extract_unique is sized so that the kernel does most of
#: a rep's work (one file, so one runner chunk), and both listed
#: workloads so that a whole run (session start, cold rep, warm-up, timed
#: reps) fits the benchmark's per-run budget at local[3]. The curate
#: corpus keeps its planted groups at any size; it takes jaccard_verify's
#: prune branch only from operators.dedup.AUTO_PRUNE_MIN_CORPUS (20k)
#: documents after exact dedup, i.e. ``--size 20000`` (run by hand)
UNIQUE_TURNS = 60_000
UNIQUE_FILES = 1
TEMPLATED_TURNS = 150_000
#: templated payloads come from a pool of size ÷ TEMPLATE_RATIO entries
TEMPLATE_RATIO = 50
CURATE_BASE_DOCS = 4_000
CURATE_QUOTA = 1_800

#: extract_unique checks every row's key and this many seeded rows'
#: values against the serial kernel
UNIQUE_SAMPLE = 2_000

_KEYS = ["conv_id", "turn_idx"]
_EXTRACT_COLS = _KEYS + ["extracted_text", "spans", "failure"]


def _serial(payload):
    from inxs_spark.extract import extract_turn

    text, spans, failure = extract_turn(payload)
    return text, [tuple(s) for s in spans], failure


def _spans_of(value) -> list:
    return [(s["start"], s["end"], s["path"]) for s in value or ()]


def _read_sorted(path: str, columns: list[str]) -> pa.Table:
    table = pq.read_table(path, columns=columns)
    return table.sort_by([(k, "ascending") for k in _KEYS])


def _key_mismatches(got: pa.Table, want: pa.Table) -> int:
    """Rows missing from ``got`` plus rows it has in excess or twice."""
    if got.num_rows == want.num_rows and all(
        got.column(k).equals(want.column(k)) for k in _KEYS
    ):
        return 0
    g = list(zip(*(got.column(k).to_pylist() for k in _KEYS)))
    w = set(zip(*(want.column(k).to_pylist() for k in _KEYS)))
    return len(w - set(g)) + (len(g) - len(set(g))) + len(set(g) - w)


def _differs(a: pa.ChunkedArray, b: pa.Array) -> np.ndarray:
    """Null-aware per-row inequality of two aligned arrays."""
    eq = pc.equal(a, b)
    both_null = pc.and_(pc.is_null(a), pc.is_null(b))
    same = pc.or_kleene(pc.fill_null(eq, False), both_null)
    return ~np.asarray(same.to_numpy(zero_copy_only=False), dtype=bool)


class Workload:
    name = ""
    #: after the cold rep, warm reps are discarded while the CPU per rep
    #: is still falling (JIT warm-up), at least ``warmup_min_reps`` and
    #: at most ``warmup_max_reps`` of them
    warmup_min_reps = 2
    warmup_max_reps = 4
    #: a traced run interleaves this many (untraced, traced) rep pairs,
    #: in alternating order, for trace.overhead_s
    overhead_pairs = 2
    #: the input size the benchmark runs at (turns or base documents)
    default_size = 0

    def __init__(self, cache_dir: str, seed: int, size: int | None = None) -> None:
        self.cache_dir = cache_dir
        self.seed = seed
        self.size = size or self.default_size
        self.rows = 0

    def prepare(self) -> None:
        raise NotImplementedError

    def rep(self, spark, out: str) -> None:
        raise NotImplementedError

    def check(self, out: str) -> int:
        raise NotImplementedError


class ExtractUnique(Workload):
    """plans.runner.run_extraction, the shipped resumable job, over
    distinct synth transcripts; each rep writes a fresh output root."""

    name = "extract_unique"
    default_size = UNIQUE_TURNS
    # the CPU per rep drops by a fifth from the first warm rep to the
    # second and by under a tenth after; two warm-up reps fit the budget
    warmup_min_reps = 1
    warmup_max_reps = 2

    def prepare(self) -> None:
        self.entry = inputs.unique_transcripts(
            self.cache_dir, self.seed, self.size, UNIQUE_FILES
        )
        self.input = self.entry.input
        src = _read_sorted(self.input, _KEYS + ["text"])
        self.rows = src.num_rows
        self.keys = src.select(_KEYS)
        rnd = random.Random(f"unique-sample-{self.seed}")
        self.sample = sorted(rnd.sample(range(self.rows), min(UNIQUE_SAMPLE, self.rows)))
        texts = src.column("text")
        self.expected = {i: _serial(texts[i].as_py()) for i in self.sample}

    def rep(self, spark, out: str) -> None:
        from inxs_spark.plans.runner import run_extraction

        run_extraction(spark, self.input, out)

    def check(self, out: str) -> int:
        got = _read_sorted(os.path.join(out, "extracted"), _EXTRACT_COLS)
        failed = _key_mismatches(got, self.keys)
        if failed:
            return failed
        cols = {c: got.column(c) for c in ("extracted_text", "spans", "failure")}
        for i, (text, spans, failure) in self.expected.items():
            if (cols["extracted_text"][i].as_py() != text
                    or _spans_of(cols["spans"][i].as_py()) != spans
                    or cols["failure"][i].as_py() != failure):
                failed += 1
        return failed


class ExtractTemplated(Workload):
    """plans.extract_pipeline.extract_df_deduped plus a parquet sink over
    turns whose payloads repeat 1/rank from a small pool."""

    name = "extract_templated"
    default_size = TEMPLATED_TURNS

    def prepare(self) -> None:
        from inxs_spark.plans.extract_pipeline import SPAN_TYPE

        self.entry = inputs.templated_transcripts(
            self.cache_dir, self.seed, self.size, self.size // TEMPLATE_RATIO
        )
        self.input = self.entry.input
        self.keys = _read_sorted(self.input, _KEYS)
        self.rows = self.keys.num_rows
        self.pool_idx = pa.array(np.load(self.entry.truth_path("pool_idx.npy")))
        results = [_serial(p) for p in self.entry.load_json("pool.json")]
        self.want = {
            "extracted_text": pa.array([r[0] for r in results], pa.string()),
            "spans": pa.array(
                [[{"start": s, "end": e, "path": p} for s, e, p in r[1]]
                 for r in results],
                SPAN_TYPE,
            ),
            "failure": pa.array([r[2] for r in results], pa.string()),
        }

    def rep(self, spark, out: str) -> None:
        from inxs_spark.plans.extract_pipeline import extract_df_deduped

        extract_df_deduped(spark.read.parquet(self.input)).write.parquet(out)

    def check(self, out: str) -> int:
        got = _read_sorted(out, _EXTRACT_COLS)
        failed = _key_mismatches(got, self.keys)
        if failed:
            return failed
        bad = np.zeros(self.rows, dtype=bool)
        for col in ("extracted_text", "failure"):
            bad |= _differs(got.column(col), self.want[col].take(self.pool_idx))
        want_spans = self.want["spans"].take(self.pool_idx)
        got_spans = got.column("spans").combine_chunks()
        if not got_spans.equals(want_spans):
            for i in np.flatnonzero(~bad):
                if got_spans[int(i)] != want_spans[int(i)]:
                    bad[i] = True
        return int(bad.sum())


class CurateCorpus(Workload):
    """jobs.curate.curate(..., out=) over one single-row-group file of
    documents with planted duplicates, near-duplicates, junk and
    languages."""

    name = "curate_corpus"
    default_size = CURATE_BASE_DOCS
    # no warm-up rep: a rep takes over 10 s, and a run's budget holds
    # only the cold rep and one more
    warmup_min_reps = 0
    warmup_max_reps = 0
    # one pair keeps a traced run within its time limit; the untraced
    # rep runs first, so warm-up drift biases trace.overhead_s low
    overhead_pairs = 1

    def prepare(self) -> None:
        self.entry = inputs.curate_corpus(
            self.cache_dir, self.seed, self.size, CURATE_QUOTA * self.size // CURATE_BASE_DOCS
        )
        self.input = self.entry.input
        self.truth = self.entry.load_json("truth.json")
        self.rows = self.truth["stage_counts"]["input"]
        self.stats: dict = {}
        #: the traced mode sets this for its traced reps
        self.metrics_out: str | None = None

    def rep(self, spark, out: str) -> None:
        from inxs_spark.jobs.curate import curate

        _df, self.stats = curate(
            spark.read.parquet(self.input),
            langs=inputs.CURATE_LANGS,
            quota_per_lang=self.truth["quota_per_lang"],
            out=out,
            metrics_out=self.metrics_out,
        )

    def check(self, out: str) -> int:
        failed = sum(
            abs(self.stats.get(stage, 0) - n)
            for stage, n in self.truth["stage_counts"].items()
        )
        got = pq.read_table(out, columns=["doc_id", "text", "lang_pred"])
        want = self.truth["survivors"]
        seen = set()
        for doc_id, text, lang in zip(*(c.to_pylist() for c in got.columns)):
            key = str(doc_id)
            if key in seen or want.get(key) != [lang, text]:
                failed += 1
            seen.add(key)
        return failed + len(want.keys() - seen)


WORKLOADS = {w.name: w for w in (ExtractUnique, ExtractTemplated, CurateCorpus)}
