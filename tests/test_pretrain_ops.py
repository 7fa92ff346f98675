"""Tests for the pretraining-tranche operators: distributed prefix sum,
sequence packing, and the chunking UDTF's parity with the JVM chunker."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pmp_analytics_spark.operators.packing import pack_sequences
from pmp_analytics_spark.operators.prefix_sum import running_total


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


class TestRunningTotal:
    def test_matches_global_window(self, spark):
        df = spark.range(0, 1000).withColumn(
            "v", (F.col("id") * 7 % 13 + 1).cast("long")
        )
        got = running_total(df, "v", "id", out_col="rt")
        w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
        want = df.withColumn("rt", F.coalesce(F.sum("v").over(w), F.lit(0)))
        assert _rows(got, "id", "rt") == _rows(want, "id", "rt")

    def test_inclusive_form(self, spark):
        df = spark.range(0, 100).withColumn("v", F.lit(2).cast("long"))
        got = running_total(df, "v", "id", out_col="rt", include_current=True)
        rows = dict(_rows(got, "id", "rt"))
        assert rows[0] == 2 and rows[99] == 200

    def test_invariant_to_input_partitioning(self, spark):
        base = spark.range(0, 500).withColumn("v", (F.col("id") % 5).cast("long"))
        a = running_total(base.repartition(1), "v", "id")
        b = running_total(base.repartition(17), "v", "id")
        assert _rows(a, "id", "running_total") == _rows(b, "id", "running_total")

    def test_partition_count_exceeding_rows(self, spark):
        df = spark.range(0, 3).withColumn("v", F.lit(1).cast("long"))
        got = dict(_rows(running_total(df, "v", "id"), "id", "running_total"))
        assert got == {0: 0, 1: 1, 2: 2}


class TestGlobalRowNumber:
    def test_matches_global_window_with_composite_order(self, spark):
        from pmp_analytics_spark.operators.prefix_sum import global_row_number

        df = spark.range(0, 1000).select(
            F.col("id"), (F.col("id") * 37 % 50).cast("long").alias("score")
        )
        got = global_row_number(
            df, [F.desc("score"), F.asc("id")], out_col="rn"
        )
        w = Window.orderBy(F.desc("score"), F.asc("id"))
        want = df.withColumn("rn", F.row_number().over(w).cast("long"))
        assert _rows(got, "id", "rn") == _rows(want, "id", "rn")

    def test_no_unpartitioned_window_in_plan(self, spark):
        from pmp_analytics_spark.operators.prefix_sum import global_row_number
        from pmp_analytics_spark.plans import physical_plan

        df = spark.range(0, 100).withColumn("v", F.col("id") % 9)
        got = global_row_number(df, [F.asc("v"), F.asc("id")])
        # the data-sized side must never pass through a SinglePartition
        # exchange; the offsets side is a triangular join, not a window
        assert physical_plan(got).count("Exchange SinglePartition") == 0


class TestPackSequences:
    @pytest.fixture()
    def packed(self, spark):
        # 10 docs of 300 tokens: offsets 0,300,...,2700 against budget 512.
        df = spark.range(0, 10).select(
            F.col("id").alias("doc_id"), F.lit(300).cast("long").alias("n_tok")
        )
        return pack_sequences(df, "doc_id", "n_tok", budget=512)

    def test_offsets_and_bins(self, packed):
        rows = {r["doc_id"]: r for r in packed.collect()}
        assert rows[0]["token_offset"] == 0 and rows[0]["bin_id"] == 0
        assert rows[3]["token_offset"] == 900 and rows[3]["bin_id"] == 1
        # doc 3 occupies [900, 1200) → bins 1..2 → spans 2 bins
        assert rows[3]["bins_spanned"] == 2
        # doc 5: offset 1500 → [1500,1800) fully inside bin 2 ([1024,1536))?
        # 1500//512 = 2, end 1799//512 = 3 → spans 2 bins.
        assert rows[5]["bin_id"] == 2 and rows[5]["bins_spanned"] == 2

    def test_total_tokens_conserved(self, packed):
        agg = packed.agg(
            F.sum("n_tok").alias("s"),
            F.max(F.col("token_offset") + F.col("n_tok")).alias("end"),
        ).collect()[0]
        assert agg["s"] == 3000 and agg["end"] == 3000

    def test_no_single_partition_exchange(self, spark):
        df = spark.range(0, 100).select(
            F.col("id").alias("doc_id"), F.lit(10).cast("long").alias("n_tok")
        )
        plan = pack_sequences(df, "doc_id", "n_tok", budget=64)._jdf.queryExecution().executedPlan().toString()
        # The data-bearing side must not funnel through a single partition;
        # the only SinglePartition exchange allowed is the n_partitions-row
        # offsets side (tiny). Count them: at most one.
        assert plan.count("Exchange SinglePartition") <= 1


class TestChunkUdtf:
    def test_matches_jvm_chunker(self, spark):
        from pmp_analytics_spark.functions.text import tokens
        from pmp_analytics_spark.functions.udtfs import register_udtfs

        register_udtfs(spark)
        df = spark.createDataFrame(
            [(1, "the quick brown fox " * 20), (2, "alpha beta"), (3, None)],
            "doc_id bigint, text string",
        )
        df.createOrReplaceTempView("udtf_docs")
        got = spark.sql(
            "SELECT d.doc_id, c.chunk_idx, c.chunk_text "
            "FROM udtf_docs d, LATERAL chunk_docs(d.text) c"
        )
        toked = df.select("doc_id", tokens(F.col("text")).alias("toks"))
        starts = F.sequence(
            F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(30)
        )
        want = (
            toked.select("doc_id", "toks", F.explode(starts).alias("start"))
            .withColumn("chunk", F.slice("toks", F.col("start") + 1, 30))
            .where(F.size("chunk") > 0)
            .select(
                "doc_id",
                (F.col("start") / 30).cast("long").alias("chunk_idx"),
                F.array_join("chunk", " ").alias("chunk_text"),
            )
        )
        assert _rows(got, "doc_id", "chunk_idx", "chunk_text") == _rows(
            want, "doc_id", "chunk_idx", "chunk_text"
        )


class TestDupNgramOps:
    """Hand-computed fixtures for the substring-level dedup signals
    (docs_dup_ngram_ratio / docs_dup_spans): whole-doc duplicates, an
    embedded copied span, a doc with two non-mergeable spans, and a
    unique doc — covering the corpus-wide total>=2 rule (within-doc
    repeats included) and interval merging of overlapping 8-gram hits."""

    @pytest.fixture()
    def docs_dir(self, spark, tmp_path):
        base = "a b c d e f g h i j"                       # 10 toks, 3 grams
        uniq = " ".join(f"z{i}" for i in range(20))        # 20 unique toks
        embed = "x1 x2 a b c d e f g h y1"                 # copied 8-gram at pos 3
        two = "a b c d e f g h " + " ".join(f"u{i}" for i in range(5)) + " a b c d e f g h"
        short = "p q r"                                    # < 8 toks: excluded
        rows = [
            (0, base), (1, base), (2, uniq), (3, embed), (4, two), (5, short),
        ]
        df = spark.createDataFrame(
            [(i, t, "en", "fix", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
        return str(tmp_path)

    def test_dup_ngram_ratio_exact(self, spark, docs_dir):
        from pmp_analytics_spark.queries.pretrain import docs_dup_ngram_ratio

        got = {
            r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_ratio"])
            for r in docs_dup_ngram_ratio(spark, docs_dir).collect()
        }
        assert got[0] == (3, 3, 1.0)
        assert got[1] == (3, 3, 1.0)
        assert got[2] == (13, 0, 0.0)
        assert got[3] == (4, 1, 0.25)
        # doc 4: 14 grams, dup at pos 1 and pos 14 (same gram, plus docs 0/1/3)
        assert got[4] == (14, 2, round(2 / 14, 6))
        assert 5 not in got  # under the 8-token floor

    def test_dup_spans_exact(self, spark, docs_dir):
        from pmp_analytics_spark.queries.pretrain import docs_dup_spans

        got = {
            r["doc_id"]: (
                r["n_spans"], r["max_span_tokens"], r["dup_tokens"], r["dup_token_frac"]
            )
            for r in docs_dup_spans(spark, docs_dir).collect()
        }
        # whole-doc dups: one merged span covering all 10 tokens
        assert got[0] == (1, 10, 10, 1.0)
        assert got[1] == (1, 10, 10, 1.0)
        assert 2 not in got            # no dup grams -> no row
        assert got[3] == (1, 8, 8, round(8 / 11, 6))
        # two spans with a 5-token gap: [1,8] and [14,21], NOT merged
        assert got[4] == (2, 8, 16, round(16 / 21, 6))
        assert 5 not in got


class TestPpsSample:
    SF = "/root/testdata/sf0.001"

    def test_exact_count_and_determinism(self, spark):
        from pmp_analytics_spark.queries.pretrain import _PPS_N, docs_pps_sample

        a = sorted(tuple(r) for r in docs_pps_sample(spark, self.SF).collect())
        # every weight is far below W/N on this corpus, so each skip point
        # lands in a distinct doc: exactly N selections
        assert len(a) == _PPS_N
        b = sorted(tuple(r) for r in docs_pps_sample(spark, self.SF).collect())
        assert a == b  # fixed md5 order -> same sample every run

    def test_selection_rule_matches_bruteforce(self, spark):
        from pmp_analytics_spark.queries.pretrain import _PPS_N, docs_pps_sample
        import hashlib

        docs = {
            r["doc_id"]: r["n_chars"]
            for r in spark.read.parquet(f"{self.SF}/documents.parquet")
            .select("doc_id", "n_chars")
            .collect()
        }
        total = sum(docs.values())
        ordered = sorted(docs, key=lambda d: hashlib.md5(str(d).encode()).hexdigest())
        cum, want = 0, set()
        for d in ordered:
            prev, cum = cum, cum + docs[d]
            if (cum * _PPS_N) // total > (prev * _PPS_N) // total:
                want.add(d)
        got = {r["doc_id"] for r in docs_pps_sample(spark, self.SF).collect()}
        assert got == want


class TestDedupKeepBest:
    SF = "/root/testdata/sf0.001"

    def test_partition_of_corpus_and_quality_dominance(self, spark):
        from pmp_analytics_spark.queries.llm import docs_dedup_keep_best

        rows = docs_dedup_keep_best(spark, self.SF).collect()
        n_docs = spark.read.parquet(f"{self.SF}/documents.parquet").count()
        # components partition the corpus: member counts sum to |corpus|
        assert sum(r["n_members"] for r in rows) == n_docs
        # winners are unique and live in their own component's id space
        keep_ids = [r["keep_id"] for r in rows]
        assert len(keep_ids) == len(set(keep_ids))
        comps = [r["component"] for r in rows]
        assert len(comps) == len(set(comps))
        # min-id canonical never beats the keep-best winner on quality
        chars = {
            r["doc_id"]: r["n_chars"]
            for r in spark.read.parquet(f"{self.SF}/documents.parquet")
            .select("doc_id", "n_chars")
            .collect()
        }
        for r in rows:
            assert r["keep_chars"] == chars[r["keep_id"]]
            assert r["keep_chars"] >= chars[r["component"]]


class TestBpeLearnMerges:
    def _python_bpe(self, word_freqs, k):
        """Reference implementation: Sennrich-style merges over a
        type-frequency vocab, ties broken by pair tuple ascending."""
        vocab = {tuple(w): f for w, f in word_freqs.items()}
        out = []
        for rank in range(1, k + 1):
            counts = {}
            for sym, f in vocab.items():
                for a, b in zip(sym, sym[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + f
            if not counts:
                break
            (a, b), f = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((rank, a, b, a + b, f))
            merged = {}
            for sym, fq in vocab.items():
                new, i = [], 0
                while i < len(sym):
                    if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                        new.append(a + b)
                        i += 2
                    else:
                        new.append(sym[i])
                        i += 1
                merged[tuple(new)] = merged.get(tuple(new), 0) + fq
            vocab = merged
        return out

    def test_matches_reference_bpe(self, spark, tmp_path):
        import random

        from pmp_analytics_spark.operators.bpe import bpe_learn_merges

        rng = random.Random(7)
        words = ["".join(rng.choices("abcd", k=rng.randint(3, 8))) for _ in range(60)]
        text = " ".join(rng.choices(words, k=400))
        df = spark.createDataFrame([(text,)], "text string")
        got = [tuple(r) for r in bpe_learn_merges(df, "text", 6).collect()]

        freqs = {}
        for w in text.split():
            freqs[w] = freqs.get(w, 0) + 1
        want = self._python_bpe(freqs, 6)
        assert got == want

    def test_early_stop_on_exhausted_pairs(self, spark):
        from pmp_analytics_spark.operators.bpe import bpe_learn_merges

        df = spark.createDataFrame([("ab ab",)], "text string")
        got = [tuple(r) for r in bpe_learn_merges(df, "text", 5).collect()]
        # only one mergeable pair exists; the loop must stop after it
        assert got == [(1, "a", "b", "ab", 2)]


class TestBpeApply:
    def test_zero_merges_is_char_frequencies(self, spark):
        from pmp_analytics_spark.operators.bpe import (
            bpe_apply,
            bpe_token_stats,
            word_vocab,
        )

        df = spark.createDataFrame([("aba cc aba",)], "text string")
        stats = bpe_token_stats(bpe_apply(word_vocab(df, "text"), []))
        got = {r["token"]: (r["token_freq"], r["n_word_types"]) for r in stats.collect()}
        # char occurrences weighted by word freq: aba x2 -> a:4 b:2; cc -> c:2
        assert got == {"a": (4, 1), "b": (2, 1), "c": (2, 1)}

    def test_learn_then_apply_round_trip(self, spark):
        from pmp_analytics_spark.operators.bpe import (
            bpe_apply,
            bpe_learn_merges,
            bpe_token_stats,
            word_vocab,
        )

        df = spark.createDataFrame([("ab ab abc",)], "text string")
        merges = bpe_learn_merges(df, "text", 3).orderBy("rank").collect()
        rules = [(r["lhs"], r["rhs"]) for r in merges]
        # (a,b) wins with freq 3, then (ab,c) with freq 1
        assert rules == [("a", "b"), ("ab", "c")]
        applied = {
            r["word"]: r["sym"]
            for r in bpe_apply(word_vocab(df, "text"), rules).collect()
        }
        assert applied == {"ab": " ab ", "abc": " abc "}
        stats = bpe_token_stats(bpe_apply(word_vocab(df, "text"), rules))
        got = {r["token"]: (r["token_freq"], r["n_word_types"]) for r in stats.collect()}
        assert got == {"ab": (2, 1), "abc": (1, 1)}

    def test_char_mass_conserved_under_merges(self, spark):
        """Merging never creates or destroys characters: the token
        frequency table weighted by token length equals the vocab's
        freq-weighted character mass for ANY merge table."""
        import random

        from pyspark.sql import functions as F

        from pmp_analytics_spark.operators.bpe import (
            bpe_apply,
            bpe_learn_merges,
            bpe_token_stats,
            word_vocab,
        )

        rng = random.Random(11)
        words = ["".join(rng.choices("ab", k=rng.randint(2, 6))) for _ in range(30)]
        text = " ".join(rng.choices(words, k=200))
        df = spark.createDataFrame([(text,)], "text string")
        rules = [
            (r["lhs"], r["rhs"])
            for r in bpe_learn_merges(df, "text", 5).orderBy("rank").collect()
        ]
        assert rules, "fixture must learn at least one merge"
        vocab = word_vocab(df, "text")
        mass = vocab.agg(
            F.sum(F.col("freq") * F.length("word")).alias("m")
        ).collect()[0]["m"]
        tok_mass = (
            bpe_token_stats(bpe_apply(vocab, rules))
            .agg(F.sum(F.col("token_freq") * F.length("token")).alias("m"))
            .collect()[0]["m"]
        )
        assert tok_mass == mass


class TestDupSpanRemoval:
    def test_removal_exact(self, spark, tmp_path):
        base = "a b c d e f g h i j"
        uniq = " ".join(f"z{i}" for i in range(20))
        embed = "x1 x2 a b c d e f g h y1"
        two = "a b c d e f g h " + " ".join(f"u{i}" for i in range(5)) + " a b c d e f g h"
        rows = [(0, base), (1, base), (2, uniq), (3, embed), (4, two)]
        df = spark.createDataFrame(
            [(i, t, "en", "fix", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

        from pmp_analytics_spark.queries.pretrain import docs_dup_span_removal

        got = {
            r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
            for r in docs_dup_span_removal(spark, str(tmp_path)).collect()
        }
        # whole-doc duplicates: everything cut, doc still present
        assert got[0] == ("", 0, 10)
        assert got[1] == ("", 0, 10)
        # untouched doc round-trips its token stream
        assert got[2] == (uniq, 20, 0)
        # embedded copy: the copied 8-gram window [3,10] is cut
        assert got[3] == ("x1 x2 y1", 3, 8)
        # two non-adjacent spans cut; the unique middle survives
        assert got[4] == ("u0 u1 u2 u3 u4", 5, 16)


class TestSpanQueryCoherence:
    def test_removal_counts_match_span_stats(self, spark):
        """The two halves of substring-level dedup must agree on every
        document: tokens the stats query reports as duplicated-span
        coverage are exactly the tokens the removal query cuts."""
        from pmp_analytics_spark.queries.pretrain import (
            docs_dup_span_removal,
            docs_dup_spans,
        )

        sf = "/root/testdata/sf0.001"
        stats = {
            r["doc_id"]: r["dup_tokens"] for r in docs_dup_spans(spark, sf).collect()
        }
        removal = {
            r["doc_id"]: r["n_removed"]
            for r in docs_dup_span_removal(spark, sf).collect()
        }
        assert stats  # the corpus has duplicated spans at this sf
        for doc_id, dup_tokens in stats.items():
            assert removal[doc_id] == dup_tokens, doc_id
        # every doc absent from the stats (no dup span) must lose nothing
        for doc_id, n_removed in removal.items():
            if doc_id not in stats:
                assert n_removed == 0, doc_id


def _uni_reference(words, iters, plen, seed_multi, keep_multi):
    """Pure-Python replay of operators/unigram.py::unigram_fit on a
    {word: freq} dict — seed, integer-score hard-EM, floors, pruning."""
    import math
    from collections import Counter

    from pmp_analytics_spark.operators.unigram import viterbi_segment_py

    seed = Counter()
    for w, f in words.items():
        for i in range(len(w)):
            for l in range(1, min(plen, len(w) - i) + 1):
                seed[w[i : i + l]] += f
    multi = sorted(
        ((p, c) for p, c in seed.items() if len(p) >= 2),
        key=lambda pc: (-pc[1], pc[0]),
    )[:seed_multi]
    singles = {p: c for p, c in seed.items() if len(p) == 1}
    pieces = dict(multi) | singles
    for _ in range(iters):
        total = sum(pieces.values())
        lp = {
            p: math.floor(math.log(c / total) * 1e9)
            for p, c in pieces.items()
        }
        counts = Counter()
        for w, f in words.items():
            for piece in viterbi_segment_py(w, lp, plen):
                counts[piece] += f
        multi = sorted(
            ((p, c) for p, c in counts.items() if len(p) >= 2),
            key=lambda pc: (-pc[1], pc[0]),
        )[:keep_multi]
        pieces = dict(multi) | {
            p: counts.get(p, 1) for p in singles
        }
    return pieces


def test_unigram_fit_matches_python_reference(spark):
    """The distributed fit (vocab collapse + Arrow Viterbi + count
    M-step) must reproduce the pure-Python hard-EM exactly — integer
    scores make the comparison bitwise, not approximate."""
    from pmp_analytics_spark.operators.unigram import unigram_fit

    docs = spark.createDataFrame(
        [
            (1, "internationalization nation nationalization inter"),
            (2, "nation nation inter inter national national"),
            (3, "internal international note notes nation"),
            (4, "ab ab ab abc abc xyz"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["piece"]: r["n_uses"]
        for r in unigram_fit(
            docs, "text", iters=2, max_piece_len=5, max_word_len=25,
            seed_multi=30, keep_multi=20,
        ).collect()
    }
    words = {}
    for _, t in docs.collect():
        for w in t.split():
            words[w] = words.get(w, 0) + 1
    want = _uni_reference(words, iters=2, plen=5, seed_multi=30, keep_multi=20)
    assert got == want
    assert all(len(p) == 1 for p in set("abcxyz") & set(got))  # singles kept


def test_unigram_segment_round_trip(spark):
    """Every word type's Viterbi segmentation must concatenate back to
    the word (round-trip), and unsegmentable words (a char outside the
    piece set) come back empty rather than wrong."""
    import math

    from pmp_analytics_spark.operators.unigram import (
        unigram_segment,
        viterbi_segment_py,
    )

    vocab = spark.createDataFrame(
        [("hello", 3), ("help", 2), ("lolo", 1), ("qzk", 1)],
        "word string, freq long",
    )
    lp = {
        p: math.floor(math.log(1 / 16) * 1e9)
        for p in ["h", "e", "l", "o", "p", "he", "ll", "lo", "hel"]
    }
    out = {r["word"]: r["seg"] for r in unigram_segment(vocab, lp, 3).collect()}
    for w in ("hello", "help", "lolo"):
        assert out[w].replace(" ", "") == w
        assert out[w].split(" ") == viterbi_segment_py(w, lp, 3)
    assert out["qzk"] == ""  # 'q' not in the piece set -> honest empty


def test_byte_bpe_matches_pure_python_and_roundtrips(spark):
    """Byte-level BPE (regex pre-tokens -> UTF-8 hex byte symbols ->
    shared merge loop) must (a) learn the exact merge table a
    pure-Python byte-BPE reference learns on multi-byte UTF-8 fixtures
    — pinning that the literal boundary-replace rewrite equals the
    explicit pairwise merge — and (b) round-trip: UNHEX of every
    final segmentation is the pre-token's exact bytes. Also pins that
    the pre-tokenization is a partition of the input text."""
    import collections
    import re

    from pmp_analytics_spark.operators.bpe import bpe_learn_merges_bytes

    texts = [
        "Héllo wörld, héllo!",
        "naïve café déjà vu",
        "héllo wörld 42 ¢¢",
        "tab\there\nnew line  spaced",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_freq"])
        for r in bpe_learn_merges_bytes(df, "text", 10).orderBy("rank").collect()
    ]

    # pure-python reference (python-re equivalent of the engine pattern:
    # [^\W\d_] == \p{L} and \d == \p{N} for these fixtures)
    pat = re.compile(r" ?[^\W\d_]+| ?\d+| ?[^ \t\n\r\w]+|[ \t\n\r]+")
    vocab: collections.Counter = collections.Counter()
    for t in texts:
        toks = pat.findall(t)
        assert "".join(toks) == t
        vocab.update(toks)
    syms = {w: [f"{b:02X}" for b in w.encode()] for w in vocab}
    ref = []
    for rank in range(1, 11):
        pc: collections.Counter = collections.Counter()
        for w, f in vocab.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        (lhs, rhs), pf = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0] + "|" + kv[0][1])
        )
        ref.append((rank, lhs, rhs, lhs + rhs, pf))
        for w in syms:
            s = syms[w]
            out = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    assert got == ref
    for w, s in syms.items():
        assert bytes.fromhex("".join(s)) == w.encode()


# Where BYTE_PRETOKEN_RE puts token boundaries, written out by hand: a
# letter, digit or punctuation run takes at most one leading space, a
# contraction splits at the apostrophe, a whitespace run that is not one
# space before a token stays whole, and whitespace outside [ \t\n\r]
# (here a form feed) counts as punctuation.
_PRETOKEN_CASES = [
    ("Hello world", ["Hello", " world"]),
    ("I don't know", ["I", " don", "'", "t", " know"]),
    ("she'll be 42, right?!", ["she", "'", "ll", " be", " 42", ",", " right", "?!"]),
    ("abc123 456x", ["abc", "123", " 456", "x"]),
    ("x = 3.14;", ["x", " =", " 3", ".", "14", ";"]),
    ("wait...  what", ["wait", "...", "  ", "what"]),
    ("line one\n\tline two ", ["line", " one", "\n\t", "line", " two", " "]),
    ("café über-naïve", ["café", " über", "-", "naïve"]),
    ("  -- end", ["  ", "--", " end"]),
    ("tab\t\x0cfeed", ["tab", "\t", "\x0c", "feed"]),
]


def test_byte_pretoken_boundaries_on_both_engines(spark):
    """Spark's regexp_extract_all (Java regex) and DuckDB's
    REGEXP_EXTRACT_ALL (RE2, as the byte-BPE oracles call it) both cut
    the hand-written cases exactly where listed."""
    import duckdb

    from pmp_analytics_spark.operators.bpe import BYTE_PRETOKEN_RE

    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(_PRETOKEN_CASES)], "i int, text string"
    )
    spark_toks = {
        r["i"]: r["toks"]
        for r in df.select(
            "i", F.regexp_extract_all("text", F.lit(BYTE_PRETOKEN_RE), 0).alias("toks")
        ).collect()
    }
    con = duckdb.connect()
    for i, (text, want) in enumerate(_PRETOKEN_CASES):
        duck = con.execute(
            f"SELECT REGEXP_EXTRACT_ALL(?, '{BYTE_PRETOKEN_RE}')", [text]
        ).fetchone()[0]
        assert spark_toks[i] == want, text
        assert duck == want, text


def test_wordpiece_matches_pure_python(spark):
    """WordPiece (likelihood-gain merges) must learn the exact merge
    table — scores included, as raw doubles — that a pure-Python
    reference learns: pair and unit counts over the current weighted
    segmentation, score = c(ab)/(c(a)*c(b)) (one exact-int division on
    both sides, so the doubles are bit-identical), tie-break
    (score DESC, pair ASC), literal boundary replace."""
    import collections
    import re

    from pmp_analytics_spark.operators.bpe import wordpiece_learn_merges

    texts = [
        "low lower lowest newer newest wide wider widest",
        "low low lower new new newest wide wide wide",
        "the newer the wider the lower",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_freq"], r["score"])
        for r in wordpiece_learn_merges(df, "text", 10).orderBy("rank").collect()
    ]

    vocab: collections.Counter = collections.Counter()
    for t in texts:
        vocab.update(re.findall(r"[a-z0-9]+", t.lower()))
    syms = {w: list(w) for w in vocab}
    ref = []
    for rank in range(1, 11):
        pc: collections.Counter = collections.Counter()
        uc: collections.Counter = collections.Counter()
        for w, f in vocab.items():
            s = syms[w]
            uc.update({u: 0 for u in s})
            for u in s:
                uc[u] += f
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        scored = {
            (a, b): pf * 1.0 / (uc[a] * uc[b]) for (a, b), pf in pc.items()
        }
        (lhs, rhs) = min(
            scored, key=lambda k: (-scored[k], k[0] + "|" + k[1])
        )
        ref.append(
            (rank, lhs, rhs, lhs + rhs, pc[(lhs, rhs)], scored[(lhs, rhs)])
        )
        for w in syms:
            s = syms[w]
            out = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    assert got == ref


def test_trigram_counts_refresh_equals_rebuild_and_raises(spark):
    """The LM count-table CDC contract: refresh(old, added, removed)
    equals ngram_counts over the final doc set row-for-row (zeros
    drop, new types appear), and retracting a doc that was never
    counted RAISES instead of drifting negative."""
    import pytest as _pytest

    from pmp_analytics_spark.queries.pretrain import (
        ngram_counts,
        trigram_counts_refresh,
    )

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    old = mk([(1, "a b c a b c"), (2, "x y z"), (3, "a b c d")])
    added = mk([(4, "b c d e"), (5, "q r s")])
    removed = mk([(2, "x y z")])
    got = {
        tuple(r)
        for r in trigram_counts_refresh(
            ngram_counts(old, 3), added, removed
        ).collect()
    }
    ref = {
        tuple(r)
        for r in ngram_counts(
            mk([(1, "a b c a b c"), (3, "a b c d"), (4, "b c d e"), (5, "q r s")]), 3
        ).collect()
    }
    assert got == ref and got  # x-y-z dropped to zero, q-r-s appeared

    with _pytest.raises(Exception, match="negative count"):
        trigram_counts_refresh(
            ngram_counts(old, 3), mk([]), mk([(9, "a b c a b c a b c")])
        ).collect()
