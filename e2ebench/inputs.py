"""Seeded, cached input generators for the three benchmark workloads.

Every input is a pure function of (workload, seed, size): the same
triple always writes byte-identical parquet. Inputs are cached under
``<cache>/<workload>-s<seed>-n<size>/`` so generation never lands in a
timed number. Each cache entry holds:

    input/   the parquet files the program reads (nothing else)
    truth/   ground truth for the benchmark's own checks (pool indices,
             planted groups); the program never sees this directory
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from inxs_spark.operators.text import EMAIL_RE, LONG_NUMBER_RE, STOPWORDS
from inxs_spark.sources import synth

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

#: conversations of one seed live in their own block of ordinals; the
#: template pool is drawn from the upper half of the block, which the
#: transcripts (at most a few thousand conversations) never reach
_ORDINALS_PER_SEED = 1_000_000
_POOL_ORDINAL_SHIFT = _ORDINALS_PER_SEED // 2


def ordinal_offset(seed: int) -> int:
    return (1 + seed % 10_000) * _ORDINALS_PER_SEED


class Entry:
    """One cached input: ``input`` is what the program reads, ``truth``
    is what the checks read."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.input = os.path.join(root, "input")
        self.truth = os.path.join(root, "truth")

    def truth_path(self, name: str) -> str:
        return os.path.join(self.truth, name)

    def load_json(self, name: str):
        with open(self.truth_path(name)) as fh:
            return json.load(fh)


def _cached(cache_dir: str, key: str, build) -> Entry:
    """Return the cache entry for ``key``, building it once. The build
    writes into a private temporary directory that is renamed into
    place only when complete, so a killed run never leaves a partial
    entry behind."""
    final = os.path.join(cache_dir, key)
    if os.path.exists(os.path.join(final, "_COMPLETE")):
        return Entry(final)
    tmp = os.path.join(cache_dir, f".tmp-{key}-{uuid.uuid4().hex[:8]}")
    entry = Entry(tmp)
    os.makedirs(entry.input)
    os.makedirs(entry.truth)
    build(entry)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return Entry(final)


def _write_files(table: pa.Table, out_dir: str, n_files: int,
                 row_group_size: int | None = None) -> None:
    """Split ``table`` into ``n_files`` contiguous slices of near-equal
    row count."""
    n = table.num_rows
    bounds = [round(k * n / n_files) for k in range(n_files + 1)]
    for k in range(n_files):
        part = table.slice(bounds[k], bounds[k + 1] - bounds[k])
        pq.write_table(
            part,
            os.path.join(out_dir, f"part-{k:05d}.parquet"),
            row_group_size=row_group_size or max(part.num_rows, 1),
        )


def _conversation_frame(first_ordinal: int, n_turns: int, text_for,
                        distinct: bool = False) -> dict:
    """Rows of consecutive synth conversations from ``first_ordinal``
    until exactly ``n_turns`` rows are collected. ``text_for(ordinal,
    turn_idx)`` supplies the payload; with ``distinct=True`` a row whose
    payload was already emitted is skipped."""
    cols = {name: [] for name in TRANSCRIPT_SCHEMA.names}
    seen: set[str] = set()
    ordinal = first_ordinal
    while len(cols["text"]) < n_turns:
        cid = synth.conv_id(ordinal)
        for idx in range(synth.conv_length(ordinal)):
            text = text_for(ordinal, idx)
            if distinct:
                if text in seen:
                    continue
                seen.add(text)
            role, tool = synth.role_and_tool(ordinal, idx)
            cols["conv_id"].append(cid)
            cols["turn_idx"].append(idx)
            cols["role"].append(role)
            cols["text"].append(text)
            cols["tool"].append(tool)
            cols["ts"].append(synth.turn_ts(ordinal, idx))
            if len(cols["text"]) == n_turns:
                break
        ordinal += 1
    return cols


# ---------------------------------------------------------------------------
# extract_unique: distinct synth transcripts
# ---------------------------------------------------------------------------

def unique_transcripts(cache_dir: str, seed: int, n_turns: int,
                       n_files: int) -> Entry:
    """``n_turns`` synth transcript rows with every payload distinct,
    from the seed's ordinal block, in ``n_files`` parquet files (one
    runner chunk each)."""

    def build(entry: Entry) -> None:
        cols = _conversation_frame(
            ordinal_offset(seed), n_turns, synth.payload, distinct=True
        )
        table = pa.Table.from_pydict(cols, schema=TRANSCRIPT_SCHEMA)
        _write_files(table, entry.input, n_files)

    return _cached(cache_dir, f"unique-s{seed}-n{n_turns}-f{n_files}", build)


# ---------------------------------------------------------------------------
# extract_templated: payloads drawn 1/rank from a small pool
# ---------------------------------------------------------------------------

def template_pool(seed: int, pool_size: int) -> list[str]:
    """``pool_size`` distinct synth payloads from the upper half of the
    seed's ordinal block (disjoint from the transcripts' slice)."""
    pool: list[str] = []
    seen: set[str] = set()
    ordinal = ordinal_offset(seed) + _POOL_ORDINAL_SHIFT
    while len(pool) < pool_size:
        for idx in range(synth.conv_length(ordinal)):
            text = synth.payload(ordinal, idx)
            if text not in seen:
                seen.add(text)
                pool.append(text)
                if len(pool) == pool_size:
                    break
        ordinal += 1
    return pool


def templated_transcripts(cache_dir: str, seed: int, n_turns: int,
                          pool_size: int, n_files: int = 8) -> Entry:
    """``n_turns`` transcript rows whose payload is pool entry ``r``
    with probability proportional to 1/(r+1). Truth: ``pool.json``
    (the pool) and ``pool_idx.npy`` (each row's pool index, in
    (conv_id, turn_idx) order)."""

    def build(entry: Entry) -> None:
        pool = template_pool(seed, pool_size)
        weights = 1.0 / np.arange(1, pool_size + 1)
        rng = np.random.default_rng([seed % (1 << 32), 0x7E3])
        idx = rng.choice(pool_size, size=n_turns, p=weights / weights.sum())
        draws = iter(idx.tolist())
        cols = _conversation_frame(
            ordinal_offset(seed), n_turns, lambda _o, _i: pool[next(draws)]
        )
        table = pa.Table.from_pydict(cols, schema=TRANSCRIPT_SCHEMA)
        _write_files(table, entry.input, n_files)
        order = np.lexsort((np.asarray(cols["turn_idx"]),
                            np.asarray(cols["conv_id"])))
        np.save(entry.truth_path("pool_idx.npy"), idx[order].astype(np.int32))
        with open(entry.truth_path("pool.json"), "w") as fh:
            json.dump(pool, fh)

    return _cached(
        cache_dir, f"templated-s{seed}-n{n_turns}-p{pool_size}", build
    )


# ---------------------------------------------------------------------------
# curate_corpus: planted duplicates, near-duplicates, junk and languages
# ---------------------------------------------------------------------------

#: the stopwords of each language in operators.text.STOPWORDS that no
#: other language lists, so a planted language is the argmax of its hits
_LANG_STOPWORDS = {
    lang: tuple(w for w in words
                if sum(w in other for other in STOPWORDS.values()) == 1)
    for lang, words in STOPWORDS.items()
}
_LANG_WEIGHTS = (("en", 0.55), ("de", 0.2), ("fr", 0.15), ("es", 0.10))

#: planted group shares of the base documents (the rest are plain
#: survivors); exact copies are added on top of the base documents
CURATE_MIX = {
    "near_dup": 0.03,      # one word appended: Jaccard ≈ 0.97
    "distractor": 0.03,    # last quarter rewritten: Jaccard ≈ 0.6
    "low_quality": 0.04,   # short, punctuation-heavy: quality ≈ 0.05
    "undetermined": 0.02,  # no stopword of any language: lang 'und'
    "exact_copy": 0.06,    # case/whitespace variant of a survivor
}
CURATE_LANGS = ("en", "de", "fr", "es")
DOC_WORDS = (40, 56)
PII_SHARE = 0.1


def _content_vocab(rnd: random.Random, n: int = 4000) -> list[str]:
    letters = "bcdfghjklmnprstvwxz"
    vowels = "aeiouy"
    vocab: set[str] = set()
    stop = {w for ws in STOPWORDS.values() for w in ws}
    while len(vocab) < n:
        syll = rnd.randint(2, 4)
        w = "".join(rnd.choice(letters) + rnd.choice(vowels) for _ in range(syll))
        if w not in stop:
            vocab.add(w)
    return sorted(vocab)


def _good_words(rnd: random.Random, vocab: list[str], lang: str | None,
                n: int) -> list[str]:
    stops = _LANG_STOPWORDS[lang] if lang else ()
    out = []
    for _ in range(n):
        if stops and rnd.random() < 0.3:
            out.append(rnd.choice(stops))
        else:
            out.append(rnd.choice(vocab))
    return out


def _pii_token(rnd: random.Random) -> str:
    if rnd.random() < 0.5:
        return f"{rnd.choice('abcdefgh')}{rnd.randint(10, 9999)}@mail{rnd.randint(1, 99)}.org"
    return str(rnd.randint(10_000_000, 999_999_999))


def _pick_lang(rnd: random.Random) -> str:
    u = rnd.random()
    for lang, w in _LANG_WEIGHTS:
        if u < w:
            return lang
        u -= w
    return _LANG_WEIGHTS[-1][0]


def curate_corpus(cache_dir: str, seed: int, n_base: int,
                  quota_per_lang: int) -> Entry:
    """One single-row-group parquet file of documents (doc_id, text)
    with planted groups. Truth (``truth.json``): per-stage expected
    counts and the surviving doc ids with their expected output text.

    Ids: base documents get the low ids, every planted copy/variant a
    higher id than its original, so each duplicate group keeps its
    original (curate keeps the min id of a group)."""

    def build(entry: Entry) -> None:
        rnd = random.Random(f"curate-{seed}")
        vocab = _content_vocab(rnd)
        base: list[dict] = []
        for doc_id in range(n_base):
            u = rnd.random()
            kind = "plain"
            for k in ("low_quality", "undetermined"):
                if u < CURATE_MIX[k]:
                    kind = k
                    break
                u -= CURATE_MIX[k]
            n_words = rnd.randint(*DOC_WORDS)
            if kind == "low_quality":
                words = [rnd.choice(vocab) + rnd.choice("!?#%&*;:") * 3
                         for _ in range(rnd.randint(3, 6))]
                lang = None
            elif kind == "undetermined":
                words = _good_words(rnd, vocab, None, n_words)
                lang = "und"
            else:
                lang = _pick_lang(rnd)
                words = _good_words(rnd, vocab, lang, n_words)
                if rnd.random() < PII_SHARE:
                    words[rnd.randrange(len(words))] = _pii_token(rnd)
            base.append({"id": doc_id, "kind": kind, "lang": lang, "words": words})

        plain = [d for d in base if d["kind"] == "plain"]
        extra: list[dict] = []
        next_id = n_base
        n_plain = len(plain)
        for group in ("near_dup", "distractor", "exact_copy"):
            count = int(round(CURATE_MIX[group] * n_base))
            for orig in rnd.sample(plain, min(count, n_plain)):
                words = list(orig["words"])
                if group == "near_dup":
                    words.append(rnd.choice(vocab))
                    text = " ".join(words)
                elif group == "distractor":
                    cut = len(words) * 3 // 4
                    words[cut:] = _good_words(
                        rnd, vocab, orig["lang"], len(words) - cut
                    )
                    text = " ".join(words)
                else:
                    text = "  ".join(words).upper() if rnd.random() < 0.5 else (
                        " ".join(words) + " \n"
                    )
                extra.append({"id": next_id, "kind": group,
                              "lang": orig["lang"], "text": text})
                next_id += 1
        for d in base:
            d["text"] = " ".join(d.pop("words"))

        docs = base + extra
        # distractors survive like plain documents
        stage = {
            "input": len(docs),
            "after_exact_dedup": len(docs) - sum(
                d["kind"] == "exact_copy" for d in docs),
        }
        stage["after_near_dup_prune"] = stage["after_exact_dedup"] - sum(
            d["kind"] == "near_dup" for d in docs)
        gated = [d for d in docs if d["kind"] in ("plain", "distractor")]
        stage["after_quality_lang_gate"] = len(gated)
        survivors = _quota(gated, quota_per_lang)
        stage["output"] = len(survivors)

        order = list(range(len(docs)))
        rnd.shuffle(order)
        table = pa.table({
            "doc_id": pa.array([docs[i]["id"] for i in order], pa.int64()),
            "text": pa.array([docs[i]["text"] for i in order], pa.string()),
        })
        _write_files(table, entry.input, 1, row_group_size=table.num_rows)
        with open(entry.truth_path("truth.json"), "w") as fh:
            json.dump({
                "stage_counts": stage,
                "groups": {k: sum(d["kind"] == k for d in docs)
                           for k in ("plain", *CURATE_MIX)},
                "survivors": {str(d["id"]): [d["lang"], expected_scrub(d["text"])]
                              for d in survivors},
                "quota_per_lang": quota_per_lang,
            }, fh)

    return _cached(
        cache_dir, f"curate-s{seed}-n{n_base}-q{quota_per_lang}", build
    )


def _quota(docs: list[dict], quota: int) -> list[dict]:
    """operators.text.deterministic_quota's rule: per language, keep the
    first ``quota`` documents in (md5(str(id)), id) order."""
    by_lang: dict[str, list[dict]] = {}
    for d in docs:
        by_lang.setdefault(d["lang"], []).append(d)
    kept = []
    for group in by_lang.values():
        group.sort(key=lambda d: (hashlib.md5(str(d["id"]).encode()).hexdigest(), d["id"]))
        kept.extend(group[:quota])
    return sorted(kept, key=lambda d: d["id"])


def expected_scrub(text: str) -> str:
    """operators.text.pii_scrub's redaction, applied serially."""
    return re.sub(LONG_NUMBER_RE, "<NUM>", re.sub(EMAIL_RE, "<EMAIL>", text))
