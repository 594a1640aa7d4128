"""Gopher repetition filters (datapipe/quality.py) vs an independent
Python reference, plus plan-shape and filter-semantics checks."""

import collections
import io
from contextlib import redirect_stdout

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from atsc_spark.datapipe import quality

TOP_NS = (2, 3)
DUP_NS = (5,)


def ref_stats(text: str, top_ns=TOP_NS, dup_ns=DUP_NS) -> dict:
    chars = max(len(text), 1)
    out = {}
    for unit, sep in (("line", "\n"), ("para", "\n\n")):
        units = text.split(sep)
        cnt = collections.Counter(units)
        out[f"dup_{unit}_frac"] = 1.0 - len(cnt) / len(units)
        out[f"dup_{unit}_char_frac"] = (
            sum(len(u) * c for u, c in cnt.items() if c >= 2) / chars
        )
    toks = text.split(" ")
    for kind, ns in (("top", top_ns), ("dup", dup_ns)):
        for n in ns:
            grams = (
                [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
                if len(toks) >= n
                else []
            )
            cnt = collections.Counter(grams)
            if kind == "top":
                # count-1 is not repetition: gated to 0 (see quality.py)
                if cnt and max(cnt.values()) >= 2:
                    best_c = max(cnt.values())
                    best = min(g for g, c in cnt.items() if c == best_c)
                    out[f"top_{n}gram_char_frac"] = best_c * len(best) / chars
                else:
                    out[f"top_{n}gram_char_frac"] = 0.0
            else:
                out[f"dup_{n}gram_char_frac"] = (
                    sum(len(g) * c for g, c in cnt.items() if c >= 2) / chars
                )
    return out


WORDS = st.sampled_from(["a", "b", "cc", "dog", "x"])
LINE = st.lists(WORDS, min_size=0, max_size=8).map(" ".join)
TEXT = st.lists(LINE, min_size=1, max_size=6).map("\n".join)


@pytest.mark.parametrize("impl", ["sql", "arrow"])
@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(TEXT, min_size=1, max_size=6))
def test_repetition_stats_python_oracle(spark, impl, texts):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r["doc_id"]: r.asDict()
        for r in quality.repetition_stats(
            df, top_ns=TOP_NS, dup_ns=DUP_NS, impl=impl
        ).collect()
    }
    for i, text in enumerate(texts):
        want = ref_stats(text)
        for k, v in want.items():
            assert got[i][k] == pytest.approx(v, rel=1e-12, abs=1e-12), (
                impl,
                k,
                text,
                got[i][k],
                v,
            )


def test_repetition_stats_impls_pinned_identical(spark):
    """The Arrow rewrite (VERDICT r6 #3) and the JVM-HOF path agree
    bit-for-bit on an adversarial corpus: heavy repetition, count
    ties, unicode, embedded newlines inside token context, empty and
    single-token docs, and a null text row."""
    texts = [
        "spam spam spam spam spam spam",
        "a b a b a b a b",
        "x y\nx y\nx y\nz",
        "",
        "one",
        "a  b   c",                      # empty tokens from double spaces
        "p q r\n\np q r\n\ns",           # duplicate paragraphs
        "tie a tie a tie b tie b",       # 2-gram count tie
        "\u00fcber caf\u00e9 \u00fcber caf\u00e9 na\u00efve",  # unicode
        ("lorem ipsum dolor sit amet " * 40).strip(),
        None,
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        r["doc_id"]: r.asDict()
        for r in quality.repetition_stats(df, impl="arrow").collect()
    }
    b = {
        r["doc_id"]: r.asDict()
        for r in quality.repetition_stats(df, impl="sql").collect()
    }
    assert a.keys() == b.keys()
    for i in a:
        for k, av in a[i].items():
            bv = b[i][k]
            if av is None or bv is None:
                assert av is None and bv is None, (i, k, av, bv)
            else:
                assert av == pytest.approx(bv, rel=0, abs=0), (i, k, av, bv)


def test_repetition_stats_fixed_cases(spark):
    rows = [
        (0, "spam spam spam spam spam spam"),           # one token repeated
        (1, "a fresh document with unique words only"),  # clean
        (2, "x y\nx y\nx y\nz"),                         # duplicated lines
        (3, ""),                                         # empty
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r.asDict()
        for r in quality.repetition_stats(df, top_ns=(2,), dup_ns=(5,)).collect()
    }
    # doc 0: top 2-gram "spam spam" occurs 5x, len 9 -> 45/29 chars (>1 ok)
    assert got[0]["top_2gram_char_frac"] == pytest.approx(45 / 29)
    assert got[1]["dup_line_frac"] == 0.0
    assert got[1]["dup_5gram_char_frac"] == 0.0
    # doc 2: 4 lines, 2 distinct -> 1 - 2/4; chars of "x y"*3 = 9/13
    assert got[2]["dup_line_frac"] == pytest.approx(1 - 2 / 4)
    assert got[2]["dup_line_char_frac"] == pytest.approx(9 / 13)
    assert got[3]["top_2gram_char_frac"] == 0.0
    assert got[3]["dup_line_frac"] == 0.0


def test_gopher_filter_semantics(spark):
    rows = [
        (0, "buy now " * 40),  # dominated by one 2-gram -> removed
        (1, "a genuinely varied sentence about compression engines and "
            "their rollup cascades over transcript series data"),
    ]
    df = spark.createDataFrame([(i, t.strip()) for i, t in rows], ["doc_id", "text"])
    kept = quality.gopher_repetition_filter(df)
    assert [r["doc_id"] for r in kept.collect()] == [1]
    assert kept.columns == df.columns  # passthrough schema
    audited = quality.gopher_repetition_filter(df, keep_metrics=True)
    assert "top_2gram_char_frac" in audited.columns
    with pytest.raises(ValueError, match="unknown repetition metric"):
        quality.gopher_repetition_filter(df, thresholds={"nope": 0.5})


@pytest.mark.parametrize("impl", ["sql", "arrow"])
def test_repetition_stats_zero_shuffle(spark, impl):
    df = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    buf = io.StringIO()
    with redirect_stdout(buf):
        quality.repetition_stats(df, impl=impl).explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    if impl == "arrow":
        # r8: the stats pass is mapInArrow (zero-copy passthrough, no
        # pandas/Python-string materialization)
        assert "MapInArrow" in plan


# ------------------------------------------------ C4 line cleaning


def test_c4_clean_lines(spark):
    doc0 = "\n".join([
        "This is a perfectly fine sentence with enough words.",   # kept
        "too short.",                                             # < 5 words
        "this line has plenty of words but no terminal punct",    # no terminal
        "Please enable javascript to view this page today.",      # javascript
        "if (x) { return y; } this brace line has many words.",   # braces
        "Lorem ipsum dolor sit amet and more filler words here.", # lorem ipsum
        'Another good line ends with a quote mark."',             # kept
        "A third proper sentence keeps this document alive!",     # kept
    ])
    doc1 = "only one good sentence lives in this document here."  # 1 < 3
    df = spark.createDataFrame(
        [(0, doc0, "web"), (1, doc1, "web")], ["doc_id", "text", "source"]
    )
    out = quality.c4_clean_lines(df).collect()
    assert [r["doc_id"] for r in out] == [0]
    r = out[0]
    kept = r["text"].split("\n")
    assert len(kept) == 3 and r["n_lines_kept"] == 3 and r["n_lines_dropped"] == 5
    assert kept[0].startswith("This is") and kept[1].endswith('"')
    assert r["source"] == "web"  # passthrough


def test_c4_clean_lines_knobs(spark):
    df = spark.createDataFrame(
        [(0, "one two three four\nanother line with five words.")],
        ["doc_id", "text"],
    )
    # relaxed: no terminal-punct requirement, 4-word lines ok, 1 line enough
    out = quality.c4_clean_lines(
        df, min_words_per_line=4, min_sentences=1, require_terminal_punct=False
    ).collect()
    assert out[0]["n_lines_kept"] == 2
    # strict default: the 4-word unpunctuated line dies, doc falls under 3
    assert quality.c4_clean_lines(df).count() == 0


def test_filter_lines_policy_hook(spark):
    df = spark.createDataFrame(
        [(0, "keep this line\ndrop BADWORD line\nkeep another line")],
        ["doc_id", "text"],
    )
    out = quality.filter_lines(df, "NOT lower(x) LIKE '%badword%'").collect()
    assert out[0]["text"] == "keep this line\nkeep another line"


def test_repetition_numerators_consistent_with_fractions(spark):
    """numerator / chars reproduces every char-frac metric exactly, and
    dup_units / n_units the dup fractions (1 - distinct/n semantics);
    null text yields null numerators."""
    texts = [
        "spam spam spam spam spam spam",
        "x y\nx y\nx y\nz",
        "p q r\n\np q r\n\ns",
        "tie a tie a tie b tie b",
        "",
        None,
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    top_ns, dup_ns = (2, 3, 4), (5, 10)
    num = {
        r["doc_id"]: r.asDict()
        for r in quality.repetition_numerators(
            df, top_ns=top_ns, dup_ns=dup_ns
        ).collect()
    }
    frac = {
        r["doc_id"]: r.asDict()
        for r in quality.repetition_stats(df, top_ns=top_ns, dup_ns=dup_ns).collect()
    }
    for i, text in enumerate(texts):
        n, f = num[i], frac[i]
        if text is None:
            assert n["chars"] is None and n["dup_lines"] is None
            continue
        assert n["chars"] == max(len(text), 1)
        for unit in ("line", "para"):
            assert n[f"n_{unit}s"] >= 1
            got = 1.0 - (n[f"n_{unit}s"] - n[f"dup_{unit}s"]) / n[f"n_{unit}s"]
            assert got == pytest.approx(f[f"dup_{unit}_frac"], abs=0)
            assert n[f"dup_{unit}_chars"] / n["chars"] == pytest.approx(
                f[f"dup_{unit}_char_frac"], abs=0
            )
        for nn in top_ns:
            assert n[f"top_{nn}gram_chars"] / n["chars"] == pytest.approx(
                f[f"top_{nn}gram_char_frac"], abs=0
            )
        for nn in dup_ns:
            assert n[f"dup_{nn}gram_chars"] / n["chars"] == pytest.approx(
                f[f"dup_{nn}gram_char_frac"], abs=0
            )


def test_gopher_numerators_cross_engine_adversarial(spark):
    """The driver-graded gopher_stats pair on an ADVERSARIAL corpus:
    Spark's Arrow numerator kernel vs the DuckDB oracle SQL running on
    the same rows — pins the split/length/tie-break semantics the
    sf-table MATCHes can't probe (trailing separators, empty tokens,
    unicode incl. non-BMP, count ties, huge repetition)."""
    import duckdb
    import pandas as pd

    from atsc_spark.queries import _gopher_stats_sql

    texts = [
        "spam spam spam spam spam spam",
        "a b a b a b a b",
        "x y\nx y\nx y\nz",
        "",
        "one",
        "a  b   c",                        # empty tokens (double spaces)
        "tail space ",                     # trailing separator
        "\nleading newline",
        "p q r\n\np q r\n\ns",             # duplicate paragraphs
        "tie a tie a tie b tie b",         # 2-gram count tie
        "über café über café naïve",
        "emoji \U0001f389 emoji \U0001f389 end",   # non-BMP length
        ("lorem ipsum dolor sit amet " * 40).strip(),
        "w " * 300 + "w",                  # ZRL-scale zero runs / long doc
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = (
        quality.repetition_numerators(df, top_ns=(2, 3, 4), dup_ns=(5, 10))
        .drop("text")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = con.execute(_gopher_stats_sql()).df()
    cols = sorted(got.columns)
    got = got.sort_values("doc_id").reset_index(drop=True)[cols].astype("int64")
    want = want.sort_values("doc_id").reset_index(drop=True)[cols].astype("int64")
    pd.testing.assert_frame_equal(got, want)


@pytest.mark.parametrize("impl", ["sql", "arrow"])
def test_spammy_documents_all_dropped_dupheavy_all_kept(spark, impl):
    """The bench's drop assertion, pinned as a test: every
    spammy_documents row fails a Gopher threshold under BOTH impls;
    the dup-heavy corpus (cross-document repetition only) never does."""
    from atsc_spark.fixtures import documents_dupheavy, spammy_documents

    spam = spammy_documents(spark, 60)
    assert quality.gopher_repetition_filter(spam, impl=impl).count() == 0
    base = documents_dupheavy(spark, 300)
    assert quality.gopher_repetition_filter(base, impl=impl).count() == 300


def test_arrow_kernel_batch_byte_budget(spark, monkeypatch):
    """VERDICT r7 #5: a mega-document among small ones must not change
    the output when the per-batch byte budget forces sub-slicing (and
    the slicing must actually trigger)."""
    import numpy as np

    from atsc_spark.datapipe.quality import _batch_repetition_numerators

    mega = ("lorem ipsum dolor sit amet " * 2000) + "tail tail tail"
    texts = ["a b c a b c", mega, "x y", mega + " extra", "solo"]
    base_num, base_chars = _batch_repetition_numerators(texts, (2, 3), (5,))

    real = quality.arrow_byte_slices
    seen = []

    def spy(text, budget):
        seen.append(real(text, budget))
        return seen[-1]

    monkeypatch.setattr(
        "atsc_spark.datapipe.quality.GOPHER_BATCH_BYTE_BUDGET", 10_000
    )
    monkeypatch.setattr(quality, "arrow_byte_slices", spy)
    split_num, split_chars = _batch_repetition_numerators(texts, (2, 3), (5,))
    # the batch was cut, and the kernel ran once more per slice
    assert len(seen[0]) > 1 and len(seen) == 1 + len(seen[0])
    assert np.array_equal(base_num, split_num)
    assert np.array_equal(base_chars, split_chars)
