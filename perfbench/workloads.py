"""The benchmark's three workloads, each driving the engine's public API.

All three run in one process with one closed-loop client: each request or
write starts when the previous one has returned. Inputs come from
``synthetic_transcripts`` with the run's seed. Every workload returns the
samples of its unit of work (``op_s``), its throughput, its bytes written
per byte of input text, and a ``report`` of the workload's own figures.

* ``bulk_build`` -- one cold ``build_and_write_index`` over one corpus:
  the north rule's headline (turns indexed per second). Unit of work: the
  build.
* ``query_mix`` -- one warm block index; a seeded query stream issued three
  ways: WAND top-k, a plain ``/select`` page and a combined ``/select``
  (fq, boost, collapse, facet). One query in four uses tail terms only
  (WAND's one-job fast path), the rest only head terms (WAND's upper-bound
  batch loop). Unit of work: one request.
* ``segment_churn`` -- appends and updates on a segmented index from an
  empty root, with the compaction each update's deletes trigger, and a
  fresh read plus query after every commit. Small batches, so the fixed
  cost per Spark job dominates. Unit of work: one commit (append or
  update).

Conversation 0 of every corpus holds the fixture turns, whatever the seed;
its turns 10 and 11 are the top two hits for ``zeppelin quartz``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from solr_sematic_importer_spark.operators import segments
from solr_sematic_importer_spark.operators.block_postings import bm25_topk_wand
from solr_sematic_importer_spark.operators.build import build_and_write_index
from solr_sematic_importer_spark.operators.function_query import recip
from solr_sematic_importer_spark.operators.select import select
from solr_sematic_importer_spark.sources.transcripts import (
    generate_conversations_pdf,
    synthetic_transcripts,
)

K = 10
GOLDEN_QUERY = "zeppelin quartz"
GOLDEN_DOCS = [10, 11]  # doc ids are key ranks; conversation 0 sorts first

BULK_CONVS = 1600

QUERY_CONVS = 1600
HEAD_DF_SHARE = 0.75  # head terms: in at least this share of turns
TAIL_DF_SHARE = 0.01  # tail terms: in at most this share of turns
# (pool, terms) of each query in one cycle of the stream. The seed picks
# the terms, so every run issues the same shapes. A tail query's WAND and
# plain /select requests take about half as long as any other request;
# with one tail query in four, the pooled median falls inside the slow
# cluster instead of in the gap between the two, where it swung by 16%
# between seeds at two tail queries in four.
QUERY_SHAPES = (("tail", 2), ("head", 3), ("head", 1), ("head", 5))
KINDS = ("wand", "select_page", "select_combined")

CHURN_BATCH_CONVS = 300
CHURN_UPDATE_CONVS = 40
CHURN_GET_KEYS = 20
CHURN_UPDATE_SEED_OFFSET = 7919
MIN_COMMITS = 2  # one append, then one update, whose deletes force a compaction
PROBE_BATCH_CONVS = 60
PROBE_UPDATE_CONVS = 10


class Ledger:
    """Operations attempted and failed; an operation fails when it raises
    or any check on its output does not hold."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, what: str, checks: dict) -> None:
        self.attempted += 1
        bad = [name for name, ok in checks.items() if not ok]
        if bad:
            self.failed += 1
            self.failures.append(f"{what}: {', '.join(bad)}")


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path`` (0 when it does not exist)."""
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _rows(df) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in df.select("doc_id", "score").collect()]


def _input_stats(run, df) -> tuple[int, int]:
    """Persist ``df`` and return (turns, UTF-8 text bytes)."""
    with run.span("sources.transcripts"):
        df.persist()
        r = df.agg(F.count("*").alias("n"), F.sum(F.octet_length("text")).alias("b")).first()
    return int(r["n"]), int(r["b"])


def _wand(run, idx, q, op=False):
    with run.span("operators.block_postings", kind="wand", op=op):
        return _rows(bm25_topk_wand(idx, q, k=K))


def _select_page(run, idx, q, op=False):
    with run.span("operators.select", kind="select_page", op=op):
        resp = select(idx, q, rows=K)
        page = _rows(resp.docs)
        resp.release()
    return page


def _golden_probe(run, idx, what: str, n_docs: int) -> None:
    """Checks on a freshly written index: the golden query ranks the
    fixture turns first, WAND and ``/select`` return the same page, and the
    index holds every live turn."""
    wand = _wand(run, idx, GOLDEN_QUERY)
    page = _select_page(run, idx, GOLDEN_QUERY)
    run.ledger.record(
        what,
        {
            "golden top-2": [d for d, _ in wand[:2]] == GOLDEN_DOCS,
            "wand page == select page": wand == page,
            f"n_docs {idx.n_docs} == {n_docs}": idx.n_docs == n_docs,
        },
    )


# --------------------------------------------------------------------------
# bulk_build
# --------------------------------------------------------------------------


def bulk_build(run) -> dict:
    """One cold ``build_and_write_index``, as a batch indexing job runs it.
    A warm-up build plus two warm builds would double the run, which the
    time budget in README.md does not allow, and the builds after a single
    warm-up are still warming up (each about 10% faster than the one
    before)."""
    tdf = synthetic_transcripts(run.spark, BULK_CONVS, seed=run.seed)
    n_turns, text_bytes = _input_stats(run, tdf)
    path = run.path("bulk")
    run.start_measuring()
    with run.span("operators.build", op=True) as sp:
        idx = build_and_write_index(tdf, path, profile="text_en")
    size = dir_bytes(path)
    wand = _wand(run, idx, GOLDEN_QUERY)
    run.ledger.record("build", {
        "golden top-2": [d for d, _ in wand[:2]] == GOLDEN_DOCS,
        f"n_docs {idx.n_docs} == {n_turns}": idx.n_docs == n_turns,
    })
    idx.release()
    shutil.rmtree(path)
    tdf.unpersist()
    turns_per_s = n_turns / sp["wall_s"]
    return {
        "op_s": [sp["wall_s"]],
        "throughput_per_s": turns_per_s,
        "bytes_per_text_byte": size / text_bytes,
        "report": {
            "n_turns": n_turns,
            "text_bytes": text_bytes,
            "build_turns_per_s": {"value": turns_per_s, "unit": "turns/s", "n": 1},
            "index_bytes_per_text_byte": {"value": size / text_bytes, "unit": "B/B", "n": 1},
        },
    }


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------


class QueryStream:
    """Seeded queries drawn from the index's own vocabulary, in cycles of
    ``QUERY_SHAPES``.

    A query has either only head terms (in at least ``HEAD_DF_SHARE`` of
    turns) or only tail terms (in at most ``TAIL_DF_SHARE``). Within a
    pool, terms are drawn with Zipf weights by df rank, so popular terms
    recur the way they do in real traffic and the index's df memo is
    hit."""

    def __init__(self, term_dfs: list[tuple[str, int]], n_docs: int, seed: int):
        ranked = sorted(term_dfs, key=lambda t: (-t[1], t[0]))
        self.pools = {
            "head": [t for t, df in ranked if df >= HEAD_DF_SHARE * n_docs],
            "tail": [t for t, df in ranked if df <= TAIL_DF_SHARE * n_docs],
        }
        for name, pool in self.pools.items():
            if not pool:
                raise ValueError(f"query_mix: empty {name} term pool at {n_docs} turns")
        self.weights = {
            name: (w := 1.0 / np.arange(1, len(pool) + 1) ** 1.1) / w.sum()
            for name, pool in self.pools.items()
        }
        self.rng = np.random.default_rng([seed, 1])
        self.issued = 0
        self.seen: set[str] = set()
        self.terms_drawn = 0
        self.terms_repeated = 0

    def next(self) -> str:
        pool_name, n = QUERY_SHAPES[self.issued % len(QUERY_SHAPES)]
        self.issued += 1
        pool = self.pools[pool_name]
        picks = self.rng.choice(len(pool), size=n, p=self.weights[pool_name])
        terms = [pool[i] for i in picks]
        for t in set(terms):
            self.terms_drawn += 1
            self.terms_repeated += t in self.seen
            self.seen.add(t)
        return " ".join(terms)


def query_mix(run) -> dict:
    spark = run.spark
    tdf = synthetic_transcripts(spark, QUERY_CONVS, seed=run.seed)
    n_turns, text_bytes = _input_stats(run, tdf)
    path = run.path("query-index")
    with run.span("operators.build"):
        # text_general keeps stopwords, so the head terms sit in most turns
        idx = build_and_write_index(tdf, path, profile="text_general")
    index_ratio = dir_bytes(path) / text_bytes
    _golden_probe(run, idx, "query index build", n_turns)
    with run.span("operators.build", kind="fields"):
        fields = (
            idx.doc_stats.join(tdf.select("conv_id", "turn_idx", "role"), ["conv_id", "turn_idx"])
            .select("doc_id", "conv_id", "turn_idx", "role", "dl")
            .persist()
        )
        fields.count()
        vocab = [(r["term"], int(r["df"])) for r in idx.term_stats.select("term", "df").collect()]
    stream = QueryStream(vocab, n_turns, run.seed)
    fq = F.col("turn_idx") < 16
    boost = recip(F.col("dl"), 0.01, 1.0, 1.0)

    def combined(q: str, op: bool):
        with run.span("operators.select", kind="select_combined", op=op):
            resp = select(
                idx, q, fq=fq, fields=fields, boost=boost,
                collapse_field="conv_id", facet_fields=("role",), rows=K,
            )
            page = [(int(r["doc_id"]), r["conv_id"]) for r in resp.docs.collect()]
            role_total = sum(int(r["cnt"]) for r in resp.facets["role"].collect())
            resp.release()
        return page, role_total

    def issue(q: str, order, op: bool) -> dict:
        out, lat = {}, {}
        for kind in order:
            t0 = time.perf_counter()
            if kind == "wand":
                out[kind] = _wand(run, idx, q, op)
            elif kind == "select_page":
                out[kind] = _select_page(run, idx, q, op)
            else:
                out[kind] = combined(q, op)
            lat[kind] = time.perf_counter() - t0
        page, role_total = out["select_combined"]
        convs = [c for _, c in page]
        run.ledger.record(
            f"query {q!r}",
            {
                "wand page == select page": out["wand"] == out["select_page"],
                "wand page non-empty": bool(out["wand"]),
                "combined page <= rows": len(page) <= K,
                "combined collapse unique": len(set(convs)) == len(convs),
                "combined facet covers page": role_total >= len(page),
            },
        )
        return lat

    # the golden probe warmed the other two kinds; the first request of a
    # kind pays one-time costs
    combined(GOLDEN_QUERY, False)
    run.start_measuring()
    lat = {k: [] for k in KINDS}
    i = 0
    while i % len(QUERY_SHAPES) or run.elapsed() < run.seconds:  # whole cycles
        order = KINDS[i % 3:] + KINDS[: i % 3]
        for kind, s in issue(stream.next(), order, True).items():
            lat[kind].append(s)
        i += 1
    fields.unpersist()
    idx.release()
    tdf.unpersist()
    op_s = [s for k in KINDS for s in lat[k]]
    report = {
        "n_turns": n_turns,
        "queries": i,
        "term_repeat_share": stream.terms_repeated / stream.terms_drawn,
    }
    for k in KINDS:
        report[f"{k}_p50_s"] = {"value": statistics.median(lat[k]), "unit": "s", "n": len(lat[k])}
        report[f"{k}_p75_s"] = {
            "value": statistics.quantiles(lat[k], n=4)[2] if len(lat[k]) > 1 else lat[k][0],
            "unit": "s",
            "n": len(lat[k]),
        }
    return {
        "op_s": op_s,
        "throughput_per_s": len(op_s) / sum(op_s),
        "bytes_per_text_byte": index_ratio,
        "report": report,
    }


# --------------------------------------------------------------------------
# segment_churn
# --------------------------------------------------------------------------


def _convs(spark, lo: int, hi: int, seed: int):
    """Conversations ``lo <= i < hi`` of the seeded corpus."""
    return synthetic_transcripts(spark, hi, seed=seed).filter(
        F.col("conv_id") >= f"conv_{lo:08d}"
    )


def _keys(lo: int, hi: int, seed: int) -> list[tuple[str, int]]:
    pdf = generate_conversations_pdf(np.arange(lo, hi), seed=seed)
    return list(zip(pdf["conv_id"], pdf["turn_idx"].astype(int)))


class Churn:
    """Commits on one segmented index root: appends of fresh conversation
    batches alternating with updates that re-send keys of the last batch
    with new-seed text. Each commit is followed by ``maybe_compact`` (which
    merges whenever an update left deletes pending), a fresh read plus the
    golden WAND query, and, after an update, ``get_by_key`` on the updated
    keys."""

    def __init__(self, run, root: str, batch_convs: int, update_convs: int):
        self.run, self.root = run, root
        self.batch_convs, self.update_convs = batch_convs, update_convs
        self.live = 0  # turns appended minus turns replaced
        self.next_conv = 0
        self.last_batch = 0
        self.commits = 0
        self.write_s, self.compact_s, self.fresh_s = [], [], []
        self.written = self.compact_written = 0
        self.text_bytes = self.turns = 0

    def commit(self) -> None:
        run, spark, root = self.run, self.run.spark, self.root
        update = self.commits % 2 == 1
        kind = "update" if update else "append"
        if update:
            lo = self.last_batch + 1  # conversation 0 keeps its fixture turns
            hi = lo + self.update_convs
            new_seed = run.seed + CHURN_UPDATE_SEED_OFFSET * self.commits
            df = _convs(spark, lo, hi, new_seed)
            new_keys = _keys(lo, hi, new_seed)
            replaced = len(set(new_keys) & set(_keys(lo, hi, run.seed)))
        else:
            lo, hi = self.next_conv, self.next_conv + self.batch_convs
            df = _convs(spark, lo, hi, run.seed)
            self.last_batch, self.next_conv = lo, hi
            replaced = 0
        n_turns, text_bytes = _input_stats(run, df)
        before = dir_bytes(root)
        key = f"c{self.commits}"
        with run.span("operators.segments", kind=kind, op=True) as sp:
            if update:
                res = segments.update_documents(spark, root, key, df)
            else:
                res = segments.append_segment(spark, root, key, df)
        self.write_s.append(sp["wall_s"])
        df.unpersist()
        self.live += n_turns - replaced
        mid = dir_bytes(root)
        with run.span("operators.segments", kind="maybe_compact") as sp:
            merged = segments.maybe_compact(spark, root)
            sp["attrs"]["merged"] = merged is not None
        after = dir_bytes(root)
        if merged is not None:
            self.compact_s.append(sp["wall_s"])
            self.compact_written += after - mid
        self.written += after - before
        self.text_bytes += text_bytes
        self.turns += n_turns

        t0 = time.perf_counter()
        with run.span("operators.segments", kind="read"):
            idx = segments.read_segmented_index(spark, root)
        wand = _wand(run, idx, GOLDEN_QUERY)
        self.fresh_s.append(time.perf_counter() - t0)
        page = _select_page(run, idx, GOLDEN_QUERY)
        checks = {
            "golden top-2": [d for d, _ in wand[:2]] == GOLDEN_DOCS,
            "wand page == select page": wand == page,
            f"n_docs {idx.n_docs} == appended - replaced {self.live}": idx.n_docs == self.live,
            "pending deletes compacted": not update or merged is not None,
        }
        idx.release()
        if update:
            keys = new_keys[:CHURN_GET_KEYS]
            with run.span("operators.segments", kind="get_by_key"):
                got = segments.get_by_key(spark, root, keys).collect()
            checks["one live row per updated key"] = sorted(
                (r["conv_id"], int(r["turn_idx"])) for r in got
            ) == sorted(keys)
            checks["live row is the update"] = all(
                int(r["doc_id"]) >= res.doc_id_offset for r in got
            )
        run.ledger.record(f"commit {self.commits} ({kind})", checks)
        self.commits += 1

    def live_segments(self) -> int:
        with self.run.span("operators.segments", kind="manifest"):
            return len(segments.read_manifest(self.run.spark, self.root))


def segment_churn(run) -> dict:
    run.start_measuring()
    churn = Churn(run, run.path("churn"), CHURN_BATCH_CONVS, CHURN_UPDATE_CONVS)
    while churn.commits < MIN_COMMITS or run.elapsed() < run.seconds:
        churn.commit()
    write_wall = sum(churn.write_s) + sum(churn.compact_s)
    turns_per_s = churn.turns / write_wall
    write_ratio = churn.written / churn.text_bytes
    return {
        "op_s": churn.write_s,
        "throughput_per_s": turns_per_s,
        "bytes_per_text_byte": write_ratio,
        "report": {
            "commits": churn.commits,
            "compactions": len(churn.compact_s),
            "compact_bytes_written": churn.compact_written,
            "live_segments": churn.live_segments(),
            "append_p50_s": {"value": statistics.median(churn.write_s), "unit": "s", "n": churn.commits},
            "churn_turns_per_s": {"value": turns_per_s, "unit": "turns/s", "n": churn.commits},
            "fresh_query_p50_s": {"value": statistics.median(churn.fresh_s), "unit": "s", "n": churn.commits},
            "write_bytes_per_text_byte": {"value": write_ratio, "unit": "B/B", "n": churn.commits},
        },
    }


def segments_probe(run) -> dict:
    """One append and one update of a small fixed batch, with the
    compaction the update triggers: the segment layer's figures for a
    traced run of any workload."""
    churn = Churn(run, run.path("segments-probe"), PROBE_BATCH_CONVS, PROBE_UPDATE_CONVS)
    while churn.commits < MIN_COMMITS:
        churn.commit()
    return {"compact_bytes_written": churn.compact_written, "live_segments": churn.live_segments()}


WORKLOADS = {
    "bulk_build": bulk_build,
    "query_mix": query_mix,
    "segment_churn": segment_churn,
}
