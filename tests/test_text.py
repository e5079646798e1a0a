"""Text-analysis behavior tests on crafted fixtures (the synthetic corpus
is English-like for every label, so classifier behavior needs real
multilingual samples — SURVEY.md §2 C4)."""

from __future__ import annotations

from stock_data_pipeline_spark.operators.multimodal import extract_byte_features
from stock_data_pipeline_spark.functions.textfns import tokens, word_shingles

from pyspark.sql import functions as F


def _lang_id_frame(spark, rows):
    df = spark.createDataFrame(
        [(i, t, "??", "fixture", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return df


def test_lang_id_heuristic_on_crafted_samples(spark, tmp_path, monkeypatch):
    # Route the registered query's loader at a fixture table by rebuilding
    # the same expressions through the public helper pipeline.
    from stock_data_pipeline_spark.operators import text as text_mod
    from stock_data_pipeline_spark import catalog

    samples = [
        "the cat sat on the mat and it was the best of days for a walk",
        "熊猫 在 竹林 里 吃 竹子 然后 睡觉 了 一整天",
        "zxqv blarg frumple wuzzle grik snorp vex",
    ]
    df = _lang_id_frame(spark, samples)
    monkeypatch.setattr(catalog, "load", lambda _s, _d, _n: df)
    monkeypatch.setattr(text_mod, "load", lambda _s, _d, _n: df)
    out = {
        r.doc_id: r.predicted_lang
        for r in text_mod.c04_text_metrics(spark, "ignored").collect()
    }
    assert out[0] == "en"
    assert out[1] == "zh"
    assert out[2] == "unknown"


def test_tokenizer_handles_whitespace_runs(spark):
    df = spark.createDataFrame([(1, "  Hello   WORLD\tfoo\nbar  ")], "id int, text string")
    toks = df.select(tokens("text").alias("t")).collect()[0].t
    assert toks == ["hello", "world", "foo", "bar"]


def test_word_shingles_short_doc_edge(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, "one two three"), (3, "one two three four")],
        "id int, text string",
    )
    rows = {r.id: r.s for r in df.select("id", word_shingles(tokens("text"), 3).alias("s")).collect()}
    assert rows[1] == []                       # shorter than k → no shingles
    assert rows[2] == ["one two three"]
    assert rows[3] == ["one two three", "two three four"]


def test_byte_features_multibyte_first_char(spark):
    docs = spark.createDataFrame(
        [(1, "héllo", "fx", "src", 5), (2, "中文 text", "fx", "src", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.doc_id: r for r in extract_byte_features(docs).collect()}
    assert out[1].head_char_code == ord("h")
    assert out[2].head_char_code == ord("中")
    assert out[1].n_bytes == len("héllo".encode("utf-8"))  # 6, not 5


def test_redact_pii_on_crafted_strings(spark):
    from stock_data_pipeline_spark.operators.text import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "contact john.doe+spam@example.co.uk for info"),
            (2, "call +1 (555) 123-4567 or 555 867 5309 today"),
            (3, "no pii here at all"),
            (4, "a@b.io and 12345678901 mixed"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert out[1].redacted == "contact <EMAIL> for info"
    assert out[1].n_emails == 1 and out[1].n_phones == 0
    assert out[2].n_phones == 2
    assert "<PHONE>" in out[2].redacted and "555" not in out[2].redacted
    assert out[3].redacted == "no pii here at all"
    assert out[4].n_emails == 1 and out[4].n_phones == 1


def test_decontaminate_finds_planted_overlap(spark):
    from stock_data_pipeline_spark.operators.text import decontaminate

    phrase = "the quick brown fox jumps over the lazy sleeping dog"
    train = spark.createDataFrame(
        [
            (10, f"prefix words here {phrase} suffix words"),
            (11, "completely unrelated content with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(900, f"eval question mentions {phrase} verbatim")],
        "doc_id long, text string",
    )
    rows = decontaminate(train, eval_set, k=5, min_shared=3).collect()
    assert [(r.train_id, r.eval_id) for r in rows] == [(10, 900)]


def test_tokens_recoverable_from_canonical_text(spark):
    """The r13 verdicts rewrite substitutes the CANONICAL text (lower +
    trim + whitespace-collapse) for a min_by-chosen raw copy as the
    shingling representative. The naive invariant tokens(x) ==
    tokens(canonical_text(x)) is FALSE: Spark's trim strips only SPACES,
    so "\\tfoo" tokenizes to ["", "foo"] (edge empty token) while its
    canon " foo" would lose that empty through the tokenizer's own trim.
    What IS true, and what decontaminate_verdicts relies on:

    1. tokens(x) == split(canonical_text(x), ' ') — the canon encodes
       the token list exactly (words + edge-space markers), and
    2. tokens(translate(canon, ' ', '\\t')) reproduces that list through
       the UNMODIFIED tokenizer — tabs survive trim, single separators
       keep edge empties — which is the form the rewrite feeds the
       shingler.

    Pinned on the nasty cases: mixed whitespace runs (tab/newline/CR),
    leading/trailing non-space whitespace, case, empty and
    whitespace-only strings, and unicode content. If this breaks (e.g.
    a TOKEN_PATTERN change), the verdicts dedup must go back to keeping
    a raw representative."""
    from stock_data_pipeline_spark.operators.dedup import canonical_text

    samples = [
        "  The   QUICK\tbrown\n\nfox  ",
        "\tleading tab",
        "trailing newline\n",
        "\t\r\n",
        "",
        "one",
        "Tabs\tand spaces mixed\r\nlines",
        "\u718a\u732b \u5728  \u7af9\u6797\t\u91cc",
        "a  b   c    d",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "text string")
    canon = canonical_text("text")
    out = df.select(
        tokens("text").alias("raw_toks"),
        F.split(canon, " ").alias("split_canon"),
        tokens(F.translate(canon, " ", "\t")).alias("shingle_form_toks"),
    ).collect()
    for r in out:
        assert r.raw_toks == r.split_canon, (r.raw_toks, r.split_canon)
        assert r.raw_toks == r.shingle_form_toks, (
            r.raw_toks,
            r.shingle_form_toks,
        )


def test_decontaminate_verdicts_propagates_to_copies(spark):
    """r13 production shape: verdicts are computed on content
    representatives and propagated to every copy — exact copies (incl.
    case/whitespace variants) get IDENTICAL verdicts, and n_eval_hits
    counts eval DOCS including copies."""
    from stock_data_pipeline_spark.operators.text import (
        decontaminate_verdicts,
    )

    phrase = "the quick brown fox jumps over the lazy sleeping dog"
    train = spark.createDataFrame(
        [
            (10, f"prefix words here {phrase} suffix words"),
            (11, f"PREFIX WORDS HERE {phrase.upper()} SUFFIX WORDS  "),
            (12, "completely unrelated content with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [
            (900, f"eval question mentions {phrase} verbatim"),
            (901, f"EVAL QUESTION MENTIONS {phrase} VERBATIM"),  # copy
        ],
        "doc_id long, text string",
    )
    out = {
        r.train_id: r
        for r in decontaminate_verdicts(
            train, eval_set, k=5, min_shared=3
        ).collect()
    }
    assert set(out) == {10, 11, 12}
    # both train copies contaminated with the SAME verdict; eval copies
    # both counted
    for tid in (10, 11):
        assert out[tid].contaminated and out[tid].n_eval_hits == 2
        assert out[tid].max_shared == out[10].max_shared
    assert not out[12].contaminated and out[12].n_eval_hits == 0
    assert out[12].max_shared is None


def test_winnowing_guarantee_and_density(spark):
    """MOSS guarantee: any shared run of k+w-1 (=8) tokens yields at
    least one shared fingerprint; disjoint-vocabulary docs share none;
    the selected set is sub-linear in the gram count."""
    from stock_data_pipeline_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    run = " ".join(f"s{i}" for i in range(WINNOW_K + WINNOW_W - 1))
    df = spark.createDataFrame(
        [
            (1, f"a1 a2 a3 a4 a5 a6 {run} a7 a8"),
            (2, f"b1 b2 {run} b3 b4 b5 b6 b7 b8"),
            (3, " ".join(f"c{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared 8-token run yielded no shared fp"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])
    # Density: winnowing keeps far fewer than all grams (30-token doc
    # has 26 grams / 23 windows; distinct minima are a fraction).
    assert len(by_doc[3]) < 26 / 2


def test_boilerplate_newline_mode_removes_repeated_lines(spark):
    """Production (newline) mode: a footer line shared by many docs is
    removed everywhere; unique body lines survive in order; a doc made
    ENTIRELY of boilerplate becomes an empty string (n_kept=0), never
    silently disappears."""
    from stock_data_pipeline_spark.operators.text import (
        remove_boilerplate_lines,
    )

    footer = "all rights reserved - example.com"
    docs = spark.createDataFrame(
        [
            (1, f"alpha body one\n{footer}\nbeta body two"),
            (2, f"{footer}\ngamma body"),
            (3, f"delta body\n{footer}"),
            (4, footer),  # all boilerplate
            (5, "unique only"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_boilerplate_lines(docs, max_line_df=2).collect()
    }
    assert out[1].cleaned == "alpha body one\nbeta body two"
    assert (out[1].n_lines, out[1].n_kept) == (3, 2)
    assert out[2].cleaned == "gamma body"
    assert out[3].cleaned == "delta body"
    assert out[4].cleaned == "" and out[4].n_kept == 0 and out[4].n_lines == 1
    assert out[5].cleaned == "unique only" and out[5].n_kept == 1


def test_boilerplate_chunk_mode_matches_python_model(spark):
    """Chunk mode on a tiny corpus equals a plain-Python recompute of
    the same (chunk -> distinct-doc DF -> prune -> reassemble) model."""
    from collections import defaultdict

    from stock_data_pipeline_spark.operators.text import (
        remove_boilerplate_lines,
    )

    texts = {
        1: "a b c d a b",
        2: "a b x y",
        3: "a b c d",
        4: "",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    chunk, cap = 2, 2
    model_lines = {
        d: [
            " ".join(t.split(" ")[i : i + chunk])
            for i in range(0, len(t.split(" ")), chunk)
        ]
        for d, t in texts.items()
    }
    df = defaultdict(set)
    for d, ls in model_lines.items():
        for ln in ls:
            df[ln].add(d)
    want = {
        d: " ".join(ln for ln in ls if len(df[ln]) <= cap)
        for d, ls in model_lines.items()
    }
    got = {
        r.doc_id: r.cleaned
        for r in remove_boilerplate_lines(
            docs, max_line_df=cap, chunk_tokens=chunk
        ).collect()
    }
    assert got == want


def test_boilerplate_null_text_and_regex_separator(spark):
    """NULL-text documents must be RETAINED (one empty line, never
    silently dropped), and a regex-metachar separator like '.' must
    split literally on dots — not regex-match every character."""
    from stock_data_pipeline_spark.operators.text import (
        remove_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [(1, "a.b.a"), (2, None), (3, "x.y")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_boilerplate_lines(
            docs, max_line_df=5, sep="."
        ).collect()
    }
    assert set(out) == {1, 2, 3}  # NULL doc retained
    assert (out[2].n_lines, out[2].n_kept, out[2].cleaned) == (1, 1, "")
    assert out[1].cleaned == "a.b.a" and out[1].n_lines == 3
    assert out[3].cleaned == "x.y" and out[3].n_lines == 2


def test_redact_pii_counts_match_placeholders(spark):
    """n_phones must equal the <PHONE> placeholders actually in the
    output: a digit run INSIDE an email address is consumed by the email
    pass and must not be reported as a phantom phone redaction."""
    from stock_data_pipeline_spark.operators.text import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "reach me at 12345678901@mail.com"),
            (2, "call +1 (555) 123-4567 or mail a@b.io"),
            (3, "no pii here"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in redact_pii(docs).collect()}
    for r in rows.values():
        assert r.n_phones == r.redacted.count("<PHONE>"), r
        assert r.n_emails == r.redacted.count("<EMAIL>"), r
    assert rows[1].n_emails == 1 and rows[1].n_phones == 0
    assert rows[2].n_emails == 1 and rows[2].n_phones == 1


def test_bigram_pmi_matches_python_model_and_ranks_collocations(spark):
    """bigram_pmi against an exact Python recompute on a planted corpus:
    'new york' always co-occurs (high PMI) while 'the'/'cat' pair
    frequently but independently (low PMI). Every returned row must
    equal the sequential model bit-for-bit after the 6-dp truncation."""
    import math
    from collections import Counter

    from stock_data_pipeline_spark.operators.text import bigram_pmi

    texts = [
        "new york is where the cat saw the dog",
        "the cat and the dog left new york",
        "a trip to new york with the cat",
        "the dog the cat the bird",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    got = {
        (r.x, r.y): (r.pair_count, r.pmi)
        for r in bigram_pmi(docs, min_count=2).collect()
    }

    uni: Counter = Counter()
    bg: Counter = Counter()
    for t in texts:
        toks = [w for w in t.lower().strip().split() if w]
        uni.update(toks)
        bg.update(zip(toks, toks[1:]))
    n = sum(uni.values())
    nb = sum(bg.values())
    want = {}
    for (x, y), c in bg.items():
        if c >= 2:
            pmi = math.log((c / nb) / ((uni[x] / n) * (uni[y] / n)))
            want[(x, y)] = (c, math.floor(pmi * 1e6) / 1e6)
    assert got == want
    assert got[("new", "york")][1] > got[("the", "cat")][1]
