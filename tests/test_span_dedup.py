"""Exact duplicate-span dedup (operators/span_dedup.py) vs a
pure-Python reference implementing the same definition (Lee et al.
2022 ExactSubstr semantics at window granularity): every stride-1
window of >= min_tokens occurring more than once in the corpus marks
its tokens; marked runs merge into maximal spans; removal keeps the
corpus-wide first occurrence of each duplicated window."""

import random

import pytest
from pyspark.sql import functions as F

from swanlake_spark.operators import span_dedup as SD


def _ref_spans(docs: dict[int, str], L: int):
    """doc_id -> list of (start, end) maximal duplicated spans."""
    toks = {d: t.split() for d, t in docs.items()}
    from collections import defaultdict

    occ = defaultdict(list)
    for d, ts in toks.items():
        for i in range(len(ts) - L + 1):
            occ[" ".join(ts[i:i + L])].append((d, i))
    dup_starts = defaultdict(set)
    for w, places in occ.items():
        if len(places) > 1:
            for d, i in places:
                dup_starts[d].add(i)
    spans = {}
    for d, ss in dup_starts.items():
        merged = []
        for s in sorted(ss):
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], s + L)
            else:
                merged.append((s, s + L))
        spans[d] = merged
    return spans


def _ref_strip(docs: dict[int, str], L: int, keep_first: bool):
    """doc_id -> (stripped text, n_removed)."""
    toks = {d: t.split() for d, t in docs.items()}
    from collections import defaultdict

    occ = defaultdict(list)
    for d, ts in toks.items():
        for i in range(len(ts) - L + 1):
            occ[" ".join(ts[i:i + L])].append((d, i))
    removed = defaultdict(set)
    for w, places in occ.items():
        if len(places) > 1:
            first = min(places)
            for d, i in places:
                if keep_first and (d, i) == first:
                    continue
                removed[d].update(range(i, i + L))
    out = {}
    for d, ts in toks.items():
        kept = [t for j, t in enumerate(ts) if j not in removed[d]]
        out[d] = (" ".join(kept), len(ts) - len(kept))
    return out


def _df(spark, docs):
    return spark.createDataFrame(
        [(d, t) for d, t in docs.items()], "doc_id int, text string"
    )


class TestDuplicateSpans:
    def test_shared_passage_detected_and_merged(self, spark):
        passage = "the quick brown fox jumps over the lazy dog"
        docs = {
            1: f"intro words here {passage} and some closing remarks",
            2: f"{passage} entirely different tail content follows now",
            3: "no duplication in this document at all whatsoever here",
        }
        got = {
            (r.doc_id, r.span_start, r.span_end)
            for r in SD.duplicate_spans(_df(spark, docs), 6).collect()
        }
        exp = {
            (d, s, e)
            for d, spans in _ref_spans(docs, 6).items()
            for s, e in spans
        }
        assert got == exp
        assert 3 not in {d for d, _, _ in got}

    def test_within_document_repeat_detected(self, spark):
        rep = "alpha beta gamma delta epsilon zeta"
        docs = {1: f"{rep} middle filler words go here {rep}"}
        got = SD.duplicate_spans(_df(spark, docs), 6).collect()
        exp = _ref_spans(docs, 6)[1]
        assert {(r.span_start, r.span_end) for r in got} == set(exp)

    def test_randomized_corpora_match_reference(self, spark):
        rng = random.Random(99)
        vocab = [f"w{i}" for i in range(30)]
        for trial in range(4):
            passage = " ".join(rng.choices(vocab, k=rng.randint(8, 14)))
            docs = {}
            for d in range(8):
                body = " ".join(rng.choices(vocab, k=rng.randint(10, 40)))
                if rng.random() < 0.6:
                    cut = rng.randint(0, body.count(" "))
                    ws = body.split()
                    body = " ".join(ws[:cut] + passage.split() + ws[cut:])
                docs[d] = body
            L = 7
            got = {
                (r.doc_id, r.span_start, r.span_end)
                for r in SD.duplicate_spans(_df(spark, docs), L).collect()
            }
            exp = {
                (d, s, e)
                for d, spans in _ref_spans(docs, L).items()
                for s, e in spans
            }
            assert got == exp, (trial, docs)


    def test_merged_spans_backtick_column_name(self, spark):
        """The span fold is rendered as SQL text over a column name; a
        name containing a backtick must escape, not break the text."""
        df = spark.createDataFrame(
            [(1, [0, 1, 2, 9, 20, 21])], "_id int, ss array<bigint>"
        )
        plain = df.select(SD._merged_spans("ss", 4).alias("m")).collect()
        odd = df.withColumnRenamed("ss", "s`s")
        got = odd.select(SD._merged_spans("s`s", 4).alias("m")).collect()
        assert got == plain
        assert [(r.s, r.e) for r in plain[0].m] == [(0, 6), (9, 13), (20, 25)]


class TestStripDuplicateSpans:
    def test_keep_first_preserves_one_copy(self, spark):
        passage = "one two three four five six seven eight"
        docs = {
            1: f"{passage} unique tail a b c",
            2: f"prefix x y z {passage}",
            3: f"{passage}",
        }
        out = {
            r.doc_id: (r.text, r.n_tokens_removed)
            for r in SD.strip_duplicate_spans(_df(spark, docs), 6).collect()
        }
        assert out == _ref_strip(docs, 6, keep_first=True)
        # the globally-first occurrence (doc 1, pos 0) survived
        assert out[1][0].startswith("one two three")
        assert "one two" not in out[2][0] and out[3][0] == ""

    def test_strip_all_occurrences(self, spark):
        passage = "p q r s t u v w"
        docs = {1: f"{passage} aa bb", 2: f"cc dd {passage}"}
        out = {
            r.doc_id: (r.text, r.n_tokens_removed)
            for r in SD.strip_duplicate_spans(
                _df(spark, docs), 6, keep_first=False
            ).collect()
        }
        assert out == _ref_strip(docs, 6, keep_first=False)
        assert "p q" not in out[1][0] and "p q" not in out[2][0]

    def test_randomized_strip_matches_reference(self, spark):
        rng = random.Random(7)
        vocab = [f"t{i}" for i in range(25)]
        passage = " ".join(rng.choices(vocab, k=10))
        docs = {}
        for d in range(6):
            ws = rng.choices(vocab, k=rng.randint(12, 30))
            if d % 2 == 0:
                ws = ws[:5] + passage.split() + ws[5:]
            docs[d] = " ".join(ws)
        for keep in (True, False):
            out = {
                r.doc_id: (r.text, r.n_tokens_removed)
                for r in SD.strip_duplicate_spans(
                    _df(spark, docs), 7, keep_first=keep
                ).collect()
            }
            assert out == _ref_strip(docs, 7, keep_first=keep), keep

    def test_worst_case_boilerplate_doc_linear(self, spark):
        """r5 verdict: a heavily-boilerplate document where ~every
        window is duplicated is exactly what span dedup exists for —
        the strip rebuild must be linear there, not O(tokens x starts).
        Two 50k-token identical-token documents make every window a
        duplicate (within-doc repeats included): the old per-token
        `exists` over ~50k raw starts would evaluate ~2.5e9 lambda
        steps per doc; the complement-slice rebuild finishes in
        seconds."""
        import time

        T = 50_000
        docs = {1: " ".join(["tok"] * T), 2: " ".join(["tok"] * T)}
        t0 = time.monotonic()
        out = {
            r.doc_id: (r.text, r.n_tokens_removed)
            for r in SD.strip_duplicate_spans(_df(spark, docs), 8).collect()
        }
        elapsed = time.monotonic() - t0
        # doc 1: every window start except 0 is a duplicate occurrence
        # -> merged span [1, T) -> exactly the first token survives;
        # doc 2: all starts duplicated -> stripped empty
        assert out[1] == ("tok", T - 1)
        assert out[2] == ("", T)
        assert elapsed < 120, f"strip took {elapsed:.1f}s — not linear"

    def test_stats_report(self, spark):
        passage = "m n o p q r s t"
        docs = {1: f"{passage} x", 2: f"y {passage}", 3: "z z2 z3"}
        r = SD.span_dedup_stats(_df(spark, docs), 6).collect()[0]
        assert r.docs_affected == 2 and r.dup_spans == 2
        assert r.dup_tokens == 16 and len(r.examples) == 2


def _ref_contam_strip(corpus: dict[int, str], reference: dict[int, str], L: int):
    """Pure-Python cross-corpus strip: doc_id -> (text, n_removed)."""
    ref_windows = set()
    for t in reference.values():
        ts = t.split()
        for i in range(len(ts) - L + 1):
            ref_windows.add(" ".join(ts[i:i + L]))
    out = {}
    for d, t in corpus.items():
        ts = t.split()
        bad: set[int] = set()
        for i in range(len(ts) - L + 1):
            if " ".join(ts[i:i + L]) in ref_windows:
                bad.update(range(i, i + L))
        kept = [tok for j, tok in enumerate(ts) if j not in bad]
        out[d] = (" ".join(kept), len(ts) - len(kept))
    return out


class TestContaminatedSpans:
    """Cross-corpus span decontamination: every corpus token covered by
    a window occurring in the reference (eval) set is stripped —
    span-level, not document-level."""

    def test_planted_eval_sentence_removed_exactly(self, spark):
        from swanlake_spark.operators import span_dedup

        eval_sent = "the quick brown fox jumps over the lazy dog"
        corpus = {
            1: f"alpha beta gamma {eval_sent} delta epsilon zeta eta theta",
            2: "iota kappa lambda mu nu xi omicron pi rho sigma tau",
        }
        reference = {100: eval_sent}
        got = {
            r.doc_id: (r.text, r.n_tokens_removed)
            for r in span_dedup.strip_contaminated_spans(
                _df(spark, corpus), _df(spark, reference), min_tokens=9
            ).collect()
        }
        assert got[1] == (
            "alpha beta gamma delta epsilon zeta eta theta", 9
        )
        assert got[2] == (corpus[2], 0)  # untouched

    def test_fully_contaminated_doc_survives_empty(self, spark):
        from swanlake_spark.operators import span_dedup

        text = "one two three four five six seven eight"
        got = {
            r.doc_id: (r.text, r.n_tokens_removed)
            for r in span_dedup.strip_contaminated_spans(
                _df(spark, {1: text}), _df(spark, {9: text}), min_tokens=8
            ).collect()
        }
        assert got[1] == ("", 8)

    def test_spans_reported(self, spark):
        from swanlake_spark.operators import span_dedup

        eval_sent = "a b c d e f g h"
        corpus = {1: f"x y z {eval_sent} p q r {eval_sent} s t"}
        spans = sorted(
            (r.span_start, r.span_end)
            for r in span_dedup.contaminated_spans(
                _df(spark, corpus), _df(spark, {5: eval_sent}), min_tokens=8
            ).collect()
        )
        assert spans == [(3, 11), (14, 22)]

    def test_randomized_matches_pure_python(self, spark):
        import random

        from swanlake_spark.operators import span_dedup

        rng = random.Random(20260815)
        vocab = [f"w{i}" for i in range(25)]
        for trial in range(3):
            reference = {
                100 + r: " ".join(rng.choices(vocab, k=rng.randint(8, 30)))
                for r in range(4)
            }
            corpus = {}
            for d in range(8):
                body = rng.choices(vocab, k=rng.randint(5, 40))
                if rng.random() < 0.6:
                    ref_t = reference[100 + rng.randrange(4)].split()
                    pos = rng.randint(0, len(body))
                    body = body[:pos] + ref_t + body[pos:]
                corpus[d] = " ".join(body)
            want = _ref_contam_strip(corpus, reference, 8)
            got = {
                r.doc_id: (r.text, r.n_tokens_removed)
                for r in span_dedup.strip_contaminated_spans(
                    _df(spark, corpus), _df(spark, reference), min_tokens=8
                ).collect()
            }
            assert got == want, f"trial {trial}"

    def test_corpus_internal_dup_not_stripped(self, spark):
        # duplication WITHIN the corpus is span_dedup's job, not the
        # contamination check's: only reference-overlap strips
        from swanlake_spark.operators import span_dedup

        shared = "p q r s t u v w"
        corpus = {1: f"a b {shared}", 2: f"c d {shared}"}
        got = {
            r.doc_id: r.n_tokens_removed
            for r in span_dedup.strip_contaminated_spans(
                _df(spark, corpus),
                _df(spark, {9: "zz yy xx ww vv uu tt ss"}),
                min_tokens=8,
            ).collect()
        }
        assert got == {1: 0, 2: 0}
