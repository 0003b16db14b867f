"""Sequence packing + repetition stats: exact hand-computed cases and
the partitioning/determinism contracts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from archetype_spark.operators import packing, textstats


def _pack(spark, rows, budget):
    df = spark.createDataFrame(rows, "doc_id int, lang string, n_tokens int")
    out = packing.pack_sequences(df, budget=budget)
    return {
        (r["lang"], r["doc_id"]): (r["seq_id"], r["seq_offset"])
        for r in out.collect()
    }


def test_pack_sequences_exact_layout(spark):
    rows = [
        (1, "en", 600),
        (2, "en", 500),
        (3, "en", 10),
        (4, "de", 1200),
        (5, "de", 100),
    ]
    got = _pack(spark, rows, budget=1000)
    assert got == {
        ("en", 1): (0, 0),     # starts at 0
        ("en", 2): (0, 600),   # fits budget boundary at 1100 -> seq 1? no: start=600
        ("en", 3): (1, 100),   # start=1100 -> seq 1, offset 100
        ("de", 4): (0, 0),
        ("de", 5): (1, 200),   # start=1200 -> seq 1
    }


def test_pack_sequences_layout_independent(spark):
    rows = [(i, "en" if i % 2 else "de", 50 + i) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id int, lang string, n_tokens int")
    a = packing.pack_sequences(df, budget=512).orderBy("doc_id").collect()
    b = (
        packing.pack_sequences(df.repartition(13), budget=512)
        .orderBy("doc_id")
        .collect()
    )
    assert a == b


def test_pack_sequences_rejects_bad_budget(spark):
    df = spark.createDataFrame([(1, "en", 5)], "doc_id int, lang string, n_tokens int")
    with pytest.raises(ValueError, match="budget"):
        packing.pack_sequences(df, budget=0)


def test_repetition_stats_exact(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),      # bigrams: ab ba ab ba ab -> top 'a b' 3/5
            (2, "x y z"),            # 2 distinct bigrams -> top 1/2
            (3, "w"),                # no bigrams
        ],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: (r["n_ngrams"], r["top_ngram_frac"], r["keep"])
        for r in textstats.repetition_stats(df, n=2, max_frac=0.5).collect()
    }
    assert got == {
        1: (5, 0.6, False),
        2: (2, 0.5, True),
        3: (0, 0.0, True),
    }


def test_repetition_keep_threshold_boundary(spark):
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id int, text string")
    out = textstats.repetition_stats(df, n=2, max_frac=0.25).collect()[0]
    assert out["n_ngrams"] == 4 and out["top_ngram_frac"] == 0.25
    assert out["keep"] is True  # <= threshold keeps


def test_pack_payloads_exact_concat(spark):
    from archetype_spark.operators.packing import pack_payloads

    rows = [
        (1, "en", "aa bb", 2),
        (2, "en", "cc", 1),
        (3, "en", "dd ee ff", 3),  # overflows seq 0 (budget 4) -> starts seq 0? offset 3 -> seq 0
        (4, "en", "gg", 1),
        (10, "de", "xx yy", 2),
    ]
    df = spark.createDataFrame(rows, "doc_id int, lang string, text string, n_tokens int")
    out = {
        (r["lang"], r["seq_id"]): (r["n_docs"], r["payload"])
        for r in pack_payloads(df, budget=4, sep="|").collect()
    }
    # en offsets: doc1 start 0 (seq 0), doc2 start 2 (seq 0), doc3
    # start 3 (seq 0, overflowing), doc4 start 6 (seq 1)
    assert out[("en", 0)] == (3, "aa bb|cc|dd ee ff")
    assert out[("en", 1)] == (1, "gg")
    assert out[("de", 0)] == (1, "xx yy")


def test_pack_exact_sequences_invariants(spark):
    """Every sequence totals exactly the budget except each shard's
    last; pieces never exceed the budget; concatenating a doc's pieces
    in piece_idx order reconstructs the document exactly."""
    from pyspark.sql import functions as F

    from archetype_spark.operators import packing
    from archetype_spark.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    pieces = packing.pack_exact_sequences(docs, budget=32)
    rows = pieces.collect()
    assert all(0 < r["piece_tokens"] <= 32 for r in rows)

    per_seq = {}
    for r in rows:
        per_seq.setdefault(r["lang"], {}).setdefault(r["seq_id"], 0)
        per_seq[r["lang"]][r["seq_id"]] += r["piece_tokens"]
    for lang, seqs in per_seq.items():
        last = max(seqs)
        for sid, tot in seqs.items():
            if sid != last:
                assert tot == 32, (lang, sid, tot)
        assert 0 < seqs[last] <= 32
        # seq ids are contiguous from 0 (the stream has no holes)
        assert sorted(seqs) == list(range(last + 1))

    rebuilt = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["piece_idx"])):
        rebuilt[r["doc_id"]] = (
            rebuilt.get(r["doc_id"], "") + (" " if r["doc_id"] in rebuilt else "")
            + r["piece_text"]
        )
    want = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert rebuilt == want

    with __import__("pytest").raises(ValueError, match="budget"):
        packing.pack_exact_sequences(docs, budget=0)


def test_chunk_documents_coverage_and_overlap(spark):
    """Every token covered; starts step by stride; last chunk may be
    short; single-chunk docs emit exactly one chunk; invariants hold
    for window-divisible and ragged lengths."""
    from archetype_spark.operators import packing

    rows = [
        (1, " ".join(f"t{i}" for i in range(56))),  # 56 = 32 + 24 exactly
        (2, " ".join(f"t{i}" for i in range(33))),  # one token past a window
        (3, " ".join(f"t{i}" for i in range(10))),  # shorter than window
        (4, ""),                                     # empty text -> [''] 1 token
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = packing.chunk_documents(df, window=32, stride=24).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert [len(by_doc[d]) for d in (1, 2, 3, 4)] == [2, 2, 1, 1]
    # doc 1: chunk 1 covers tokens 24..55 (32 tokens, ends exactly)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [c["chunk_tokens"] for c in c1] == [32, 32]
    assert c1[1]["chunk_text"].split(" ")[0] == "t24"
    assert c1[1]["chunk_text"].split(" ")[-1] == "t55"
    # doc 2: ragged last chunk of 33 - 24 = 9 tokens
    c2 = sorted(by_doc[2], key=lambda r: r["chunk_id"])
    assert [c["chunk_tokens"] for c in c2] == [32, 9]
    # zero exchanges: chunking is narrow
    from archetype_spark.plans import n_exchanges

    assert n_exchanges(packing.chunk_documents(df)) == 0


def test_span_corruption_construction(spark):
    """Sentinels number masked blocks in order; target holds exactly
    the masked content; unmasked docs round-trip; plan is narrow."""
    from archetype_spark.operators import packing
    from archetype_spark.plans import n_exchanges

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(12)))], "doc_id int, text string"
    )
    # mask_pct=100: every block masked
    allm = packing.span_corruption(df, span_tokens=3, mask_pct=100).collect()[0]
    assert allm["n_blocks"] == 4 and allm["n_masked"] == 4
    assert allm["input_text"] == "<extra_id_0> <extra_id_1> <extra_id_2> <extra_id_3>"
    assert allm["target_text"].startswith("<extra_id_0> t0 t1 t2 <extra_id_1> t3")
    # mask_pct=0: identity input, empty target
    none = packing.span_corruption(df, span_tokens=3, mask_pct=0).collect()[0]
    assert none["n_masked"] == 0
    assert none["input_text"] == " ".join(f"t{i}" for i in range(12))
    assert none["target_text"] == ""
    assert n_exchanges(packing.span_corruption(df)) == 0


def test_chunk_documents_rejects_gapped_stride(spark):
    import pytest

    from archetype_spark.operators import packing

    df = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    with pytest.raises(ValueError, match="skip tokens"):
        packing.chunk_documents(df, window=8, stride=9)


def test_weighted_sample_k_exceeds_population(spark):
    """k larger than the (positive-weight) population returns every
    eligible row, still ranked."""
    from archetype_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, 1.0), (2, 0.5), (3, 0.0)], "doc_id long, weight double"
    )
    out = sampling.weighted_sample(df, "weight", k=10).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 2]
    assert sorted(r["sample_rank"] for r in out) == [1, 2]


def test_span_corruption_null_text_all_formulations(spark):
    """Review r8: a NULL-text document must appear (with NULL
    aggregates) in every numbering formulation — the exploded path's
    inner explode used to drop it."""
    from archetype_spark.operators import packing

    d = spark.createDataFrame(
        [(1, "a b c d e f"), (2, None)], "doc_id long, text string"
    )
    outs = {
        n: {
            (r["doc_id"], r["n_blocks"], r["n_masked"], r["input_text"])
            for r in packing.span_corruption(d, numbering=n).collect()
        }
        for n in ("narrow", "exploded")
    }
    assert outs["narrow"] == outs["exploded"]
    assert any(row[0] == 2 and row[1] is None for row in outs["narrow"])
