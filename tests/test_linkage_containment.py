"""Round-7 operators: FastSS fuzzy join (operators/linkage.py), aligned-gram
containment dedup, and the per-source cap sampler — each pinned against a
Spark-side brute force on adversarial synthetic rows (the registry queries
pin them against the DuckDB oracle on the fixtures)."""

from __future__ import annotations

from pyspark.sql import functions as F

from futures_eos_cdc_spark.operators.dedup import contained_docs
from futures_eos_cdc_spark.operators.linkage import (
    fuzzy_link_values,
    fuzzy_string_self_join,
)
from futures_eos_cdc_spark.operators.sampling import cap_per_group

# substitution / insertion / deletion / transposition-as-2-edits / unicode /
# near-miss (dist 3) cases; FastSS must reproduce the brute force EXACTLY.
_NAMES = [
    "almond antique blue",
    "almond antique blues",   # insertion (dist 1)
    "almond antique blu",     # deletion (dist 1)
    "almond antique blee",    # 2 substitutions from blue
    "almond antiqeu blue",    # transposition = 2 edits
    "almond vintage blue",    # dist 7 from blue — must NOT pair
    "café au lait",
    "cafe au lait",           # unicode substitution (dist 1)
    "x",
    "xy",                     # short strings: neighborhood includes ""
    "",
]


def _names_df(spark):
    return spark.createDataFrame([(s,) for s in _NAMES], ["s"])


def _brute_pairs(spark, lo, hi):
    df = _names_df(spark)
    a, b = df.alias("a"), df.alias("b")
    return {
        (r.s_a, r.s_b, r.dist)
        for r in a.join(b, F.col("a.s") < F.col("b.s"))
        .select(
            F.col("a.s").alias("s_a"),
            F.col("b.s").alias("s_b"),
            F.levenshtein("a.s", "b.s").cast("int").alias("dist"),
        )
        .filter((F.col("dist") >= lo) & (F.col("dist") <= hi))
        .collect()
    }


def test_fuzzy_self_join_matches_brute_force_dist1(spark):
    got = {
        tuple(r)
        for r in fuzzy_string_self_join(_names_df(spark), "s", max_dist=1).collect()
    }
    assert got == _brute_pairs(spark, 1, 1)
    assert got  # the fixture has dist-1 pairs; an empty pass proves nothing


def test_fuzzy_self_join_matches_brute_force_dist2(spark):
    got = {
        tuple(r)
        for r in fuzzy_string_self_join(_names_df(spark), "s", max_dist=2).collect()
    }
    want = _brute_pairs(spark, 1, 2)
    assert got == want
    assert any(d == 2 for *_xs, d in want)


def test_fuzzy_self_join_rejects_insane_dist(spark):
    import pytest

    with pytest.raises(ValueError):
        fuzzy_string_self_join(_names_df(spark), "s", max_dist=3)


def test_fuzzy_link_values_includes_exact_and_both_orientations(spark):
    left = spark.createDataFrame(
        [("acme corp",), ("acme c0rp",), ("zzz",)], ["name"]
    )
    right = spark.createDataFrame(
        [("acme corp",), ("acme corps",), ("yyy",)], ["vendor"]
    )
    got = {
        tuple(r)
        for r in fuzzy_link_values(left, right, "name", "vendor", max_dist=1).collect()
    }
    assert got == {
        ("acme corp", "acme corp", 0),     # exact matches kept
        ("acme corp", "acme corps", 1),
        ("acme c0rp", "acme corp", 1),
    }


def _cont_docs(spark):
    # pad to ≥31 chars (= 2*16-1, the gram_n=16 probe-coverage floor)
    filler = "lorem ipsum dolor sit amet consectetur adipiscing elit "
    inner = "the quoted passage that gets republished verbatim"
    zh = "这是一个用来测试多字节字符位置运算的中文文档正文内容" + "统计" * 6
    rows = [
        (1, inner),                              # contained in 2, 3, 4
        (2, filler + inner),                     # middle occurrence
        (3, inner + " " + filler),               # prefix occurrence (pos 1)
        (4, filler + inner + filler + inner),    # two occurrences → min pos
        (5, filler * 3),                         # contains nothing relevant
        (6, zh),                                 # contained in 7 (multibyte)
        (7, filler + zh + filler),
        (8, "short doc under the floor"),        # 24 chars: never probed
        (9, filler + "short doc under the floor" + filler),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_contained_docs_matches_brute_force(spark):
    d = _cont_docs(spark)
    got = {tuple(r) for r in contained_docs(d, gram_n=16).collect()}
    a, b = d.alias("a"), d.alias("b")
    want = {
        tuple(r)
        for r in a.join(
            b,
            (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.length("a.text") < F.length("b.text"))
            & (F.length("a.text") >= 31)
            & F.col("b.text").contains(F.col("a.text")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("cast(locate(a.text, b.text) as long)").alias("pos"),
        )
        .collect()
    }
    assert got == want
    # the cases the blocking must catch: prefix (pos 1), multi-occurrence
    # (first pos wins), multibyte chars, and the short-doc exclusion
    assert (1, 3, 1) in got
    # doc 4 holds two copies of doc 1; pos must be the FIRST (after the
    # 55-char filler → position 56, char-counted)
    assert (1, 4, 56) in got
    assert any(p[0] == 6 and p[1] == 7 for p in got)
    assert not any(p[0] == 8 for p in got)


def test_cap_per_group_deterministic_and_capped(spark):
    rows = [(i, f"src{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out1 = sorted(tuple(r) for r in cap_per_group(df, "source", 7, "doc_id").collect())
    out2 = sorted(
        tuple(r)
        for r in cap_per_group(
            df.repartition(13), "source", 7, "doc_id"
        ).collect()
    )
    assert out1 == out2  # partitioning-independent selection
    per = {}
    for _id, src, rank in out1:
        per.setdefault(src, []).append(rank)
    assert all(sorted(v) == list(range(1, 8)) for v in per.values())


def test_cap_per_group_plans_window_group_limit(spark):
    rows = [(i, f"src{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    plan = cap_per_group(df, "source", 7, "doc_id")._jdf.queryExecution().toString()
    assert "WindowGroupLimit" in plan


def test_leakage_safe_split_keeps_near_dup_pairs_together(spark, sf_dir):
    """THE property the query exists for: no near-dup pair may straddle a
    split boundary (plain per-doc hashing puts ~2pq of pairs across it)."""
    from futures_eos_cdc_spark.operators.dedup import minhash_lsh_pairs
    from futures_eos_cdc_spark.plans.dataprep import q_leakage_safe_split

    out = q_leakage_safe_split(spark, sf_dir)
    split_of = {r.doc_id: r.split for r in out.collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = [
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, threshold=0.4).collect()
    ]
    assert pairs  # fixture must exercise the property
    for a, b in pairs:
        assert split_of[a] == split_of[b], (a, b)
    # and the split is still a split: all three labels present, ~80/10/10
    from collections import Counter

    c = Counter(split_of.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > c["val"] and c["train"] > c["test"]


def test_remove_duplicate_spans_cuts_higher_id_copy(spark):
    """ExactSubstr cut policy on a planted corpus: the shared passage
    survives in the LOWEST-id doc and is cut from every later doc; cleaned
    fingerprints equal locally reconstructed expectations; untouched docs
    report n_removed=0 with their original fingerprint."""
    import hashlib

    from futures_eos_cdc_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    shared = "alpha bravo charlie delta echo foxtrot"  # 6 tokens >= min_len
    rows = [
        (1, f"one two {shared} three"),
        (2, f"ten twenty {shared} thirty forty"),
        (3, f"{shared} hundred"),
        (4, "completely unrelated text with zero overlap tokens"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = duplicate_spans(docs, k=3, min_len=4)
    out = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_md5)
        for r in remove_duplicate_spans(docs, spans).collect()
    }

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    # doc 1 is the lowest id in every pair -> keeps its copy untouched
    assert out[1] == (9, 0, md5(rows[0][1]))
    assert out[4] == (7, 0, md5(rows[3][1]))
    # docs 2 and 3 lose exactly the shared 6 tokens
    assert out[2] == (10, 6, md5("ten twenty thirty forty"))
    assert out[3] == (7, 6, md5("hundred"))
    # and the cleaned corpus is span-free: re-running detection on the
    # reconstructed texts finds nothing
    cleaned = spark.createDataFrame(
        [(1, rows[0][1]), (2, "ten twenty thirty forty"),
         (3, "hundred"), (4, rows[3][1])],
        ["doc_id", "text"],
    )
    assert duplicate_spans(cleaned, k=3, min_len=4).count() == 0


def test_cut_duplicated_grams_linear_semantics(spark):
    """The linear ExactSubstr formulation (duplicated-k-gram coverage):
    a passage shared by n docs survives exactly once (in the smallest
    (doc,pos) occurrence), WITHIN-doc repeats are also cut (unlike the
    pairwise cut), and untouched docs keep their fingerprint. The planted
    expectations are reconstructed locally, token by token."""
    import hashlib

    from futures_eos_cdc_spark.operators.dedup import cut_duplicated_grams

    shared = "alpha bravo charlie delta echo foxtrot"  # 6 tokens >= k
    rows = [
        (1, f"one two {shared} three"),
        (2, f"ten twenty {shared} thirty forty"),
        (3, f"{shared} hundred"),
        (4, "completely unrelated text with zero overlap tokens"),
        # within-doc repeat: the second copy of the passage must be cut
        (5, f"intro {shared} middle {shared} outro"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_md5)
        for r in cut_duplicated_grams(docs, k=4).collect()
    }

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    # doc 1 holds the corpus-first occurrence of every shared gram
    assert out[1] == (9, 0, md5(rows[0][1]))
    assert out[4] == (7, 0, md5(rows[3][1]))
    # later copies lose exactly the shared 6 tokens
    assert out[2] == (10, 6, md5("ten twenty thirty forty"))
    assert out[3] == (7, 6, md5("hundred"))
    # within-doc: doc 5's SECOND copy is cut, the first copy already lost
    # its grams to doc 1 (corpus-first), so both copies go
    assert out[5] == (15, 12, md5("intro middle outro"))


def test_cut_duplicated_grams_short_docs_and_plan_shape(spark):
    """Docs shorter than k tokens carry no grams and come back intact;
    the physical plan contains NO self-join of the gram table (the
    pairwise formulation's quadratic stage) — joins in this plan are the
    gram-firsts flag join, the (doc,p) event join, and the final doc
    reassembly join."""
    import hashlib

    from futures_eos_cdc_spark.operators.dedup import cut_duplicated_grams

    docs = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc"), (3, "a b c d a b c d")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_md5)
           for r in cut_duplicated_grams(docs, k=4).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert out[1] == (2, 0, md5("tiny doc"))
    assert out[2] == (2, 0, md5("tiny doc"))  # < k tokens: never cut
    assert out[3] == (8, 4, md5("a b c d"))  # self-repeat cut once
    # plan shape: no cartesian/broadcast-nested-loop anywhere
    plan = cut_duplicated_grams(docs, k=4)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
