"""M2 mention extraction: JVM regex path == pandas-UDF path ==
expected plant list; per-turn ordering invariant (input_hint)."""

from __future__ import annotations

from pyspark.sql import functions as F

from veealign_spark.sources import transcripts as st


def test_jvm_extraction_matches_expected(spark, transcripts_sdf, fixture_transcripts):
    _, expected = fixture_transcripts
    got = (
        st.extract_mentions(transcripts_sdf)
        .select("conv_id", "turn_idx", "src", "subj", "pred", "obj")
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "subj", "pred", "obj"])
        .reset_index(drop=True)
    )
    want = (
        expected.sort_values(["conv_id", "turn_idx", "subj", "pred", "obj"])
        .reset_index(drop=True)
    )
    got["turn_idx"] = got["turn_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    assert got.equals(want[got.columns.tolist()])


def test_pandas_extraction_matches_jvm(spark, transcripts_sdf):
    a = (
        st.extract_mentions(transcripts_sdf)
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "subj", "pred", "obj"])
        .reset_index(drop=True)
    )
    b = (
        st.extract_mentions_pandas(transcripts_sdf)
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "subj", "pred", "obj"])
        .reset_index(drop=True)
    )
    assert a.equals(b)


def test_triples_match_planted(spark, transcripts_sdf, fixture_pair):
    """The deduplicated triple stage must recover exactly the planted
    triple set (minus Thing rows — P3) regardless of mention skew."""
    got = (
        st.mentions_to_triples(st.extract_mentions(transcripts_sdf))
        .toPandas()
        .sort_values(["src", "subj", "pred", "obj"])
        .reset_index(drop=True)
    )
    want = fixture_pair["triples"]
    want = (
        want[(want["subj"] != "Thing") & (want["obj"] != "Thing")]
        .drop_duplicates()
        .sort_values(["src", "subj", "pred", "obj"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert got[["src", "subj", "pred", "obj", "kind"]].equals(
        want[["src", "subj", "pred", "obj", "kind"]]
    )


def test_per_turn_text_invariant(spark, transcripts_sdf, fixture_transcripts):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering, after a round-trip through a staging
    repartition (the shape a shuffle could break if ordering were
    implicit)."""
    transcripts, _ = fixture_transcripts
    round_trip = (
        transcripts_sdf.repartition(16, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        transcripts[["conv_id", "turn_idx", "text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert round_trip.equals(want)


# ---------------------------------------------------------------------------
# Degraded-input robustness (r5): the extractor's crash-or-drop policy
# under malformed turns, made explicit and pinned on BOTH paths.
# ---------------------------------------------------------------------------

def _malformed_sdf(spark):
    """Every malformed-turn class from the r4 verdict: null text, empty
    text, non-ASCII corruption, a >max-length turn, duplicate
    (conv_id, turn_idx) grain rows, whitespace-only text."""
    import datetime

    ts = datetime.datetime(2026, 1, 1)
    rows = [
        # (conv_id, turn_idx, role, text, tool, ts)
        ("srcA_c000001", 0, "user", None, None, ts),                 # null
        ("srcA_c000001", 1, "agent", "", None, ts),                  # empty
        ("srcA_c000001", 2, "user", "   \t\n ", None, ts),           # ws-only
        # non-ASCII corruption: the corrupt token yields a SUFFIX match
        # ("nicode" — the grammar is charset-anchored, not
        # word-boundary-anchored); the clean mention still extracts
        ("srcA_c000001", 3, "agent", "Ünicode rel_x FooBar and Alpha rel_y Beta", None, ts),
        # >max-length turn: 5000 repeated mentions in one text blob
        ("srcA_c000002", 0, "user", " ".join("Node%d subclass_of Root" % i for i in range(5000)), None, ts),
        # duplicate grain: same (conv_id, turn_idx) twice with
        # different text — extraction preserves the grain (both rows
        # emit); dedup is the TRIPLE stage's job (A7)
        ("srcA_c000003", 0, "user", "Alpha rel_y Beta", None, ts),
        ("srcA_c000003", 0, "user", "Gamma rel_y Delta", None, ts),
    ]
    # explicit nullable schema: degraded feeds carry null text, which
    # the canonical TRANSCRIPTS schema (text non-nullable) rejects at
    # createDataFrame — parquet read paths surface them as nulls anyway
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


def test_malformed_turns_policy_jvm(spark):
    df = _malformed_sdf(spark)
    got = st.extract_mentions(df).toPandas()
    by_turn = got.groupby(["conv_id", "turn_idx"]).size().to_dict()
    # null / empty / whitespace-only turns: zero mentions, no crash
    assert ("srcA_c000001", 0) not in by_turn
    assert ("srcA_c000001", 1) not in by_turn
    assert ("srcA_c000001", 2) not in by_turn
    # corrupt token -> suffix match (charset-anchored grammar) + the
    # clean mention, on both paths (pinned identical below)
    t3 = got[(got["conv_id"] == "srcA_c000001") & (got["turn_idx"] == 3)]
    assert set(map(tuple, t3[["subj", "pred", "obj"]].to_numpy())) == {
        ("nicode", "rel_x", "FooBar"), ("Alpha", "rel_y", "Beta"),
    }
    # >max-length turn: all 5000 mentions extracted
    assert by_turn[("srcA_c000002", 0)] == 5000
    # duplicate grain preserved: both rows emit their mention
    assert by_turn[("srcA_c000003", 0)] == 2


def test_malformed_turns_jvm_equals_pandas(spark):
    """The two extraction implementations agree row-for-row on the
    malformed fixture (the equality contract does not degrade with the
    input)."""
    df = _malformed_sdf(spark)
    cols = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    a = (st.extract_mentions(df).select(*cols).toPandas()
         .sort_values(cols).reset_index(drop=True))
    b = (st.extract_mentions_pandas(df).select(*cols).toPandas()
         .sort_values(cols).reset_index(drop=True))
    assert a.equals(b)
    assert len(a) == 5004


def test_malformed_turns_triple_stage(spark):
    """mentions_to_triples over the malformed fixture: null-safe,
    content-deduplicated, kind-tagged — the downstream stage the
    malformed rows feed."""
    df = _malformed_sdf(spark)
    t = st.mentions_to_triples(st.extract_mentions(df)).toPandas()
    # 5000 distinct Node%d + nicode/FooBar + Alpha/Beta (deduped across
    # the duplicate-grain rows' distinct texts: Alpha+Gamma) = 5003
    assert len(t) == 5003
    assert set(t["kind"].unique()) == {"Subclass", "Object Property"}


def test_per_turn_text_invariant_on_malformed(spark):
    """The per-turn text-equality invariant (input_hint) holds on the
    malformed fixture too — including null text and duplicate grain
    (stable ordering disambiguated by text as a tiebreaker here, since
    the grain itself is duplicated)."""
    df = _malformed_sdf(spark)
    round_trip = (
        df.repartition(8, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "text"])
        .reset_index(drop=True)
    )
    want = (
        df.select("conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "text"])
        .reset_index(drop=True)
    )
    assert round_trip.equals(want)


# ---------------------------------------------------------------------------
# The `_` prefilter before the JVM regex must be exact: every predicate
# alternative of MENTION_PATTERN contains `_`, so dropping turns without
# one may lose no mention. The pandas path runs Python `re` over every
# turn with no prefilter, so it is the reference.
# ---------------------------------------------------------------------------

def _prefilter_sdf(spark):
    rows = [
        # `_` only in conv_id: the text has none and cannot match
        ("srcB_x_c000001", 0, "Alpha subclassof Beta and relx Gamma"),
        # `_` only in a word that is not a predicate
        ("srcB_c000002", 0, "see my_notes for Alpha relates Beta"),
        ("srcB_c000002", 1, "Alpha subclassof my_Beta"),
        # `_` inside a subject or object, with each predicate family
        ("srcB_c000003", 0, "Big_Alpha subclass_of Small_Beta"),
        ("srcB_c000003", 1, "snake_case_x rel_has_part Other_y"),
        ("srcB_c000003", 2, "Node_1 attr_weight_kg Value_2"),
        # tabs and repeated spaces between the tokens
        ("srcB_c000004", 0, "Alpha\tsubclass_of  Beta"),
        ("srcB_c000004", 1, "Gamma \t attr_size\t\tDelta   and  Eps rel_r \t Zeta"),
        # several mentions of all three families in one turn
        ("srcB_c000005", 0, "A subclass_of B, C rel_r D; E attr_a F"),
        # attr_ and subclass_of without rel_ anywhere in the turn
        ("srcB_c000006", 0, "Foo attr_colour Bar"),
        ("srcB_c000006", 1, "Foo subclass_of Bar"),
        # a bare `_` and an incomplete mention
        ("srcB_c000007", 0, "_"),
        ("srcB_c000007", 1, "Alpha subclass_of"),
        # null and empty text
        ("srcB_c000008", 0, None),
        ("srcB_c000008", 1, ""),
    ]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")


def test_underscore_prefilter_is_exact(spark):
    df = _prefilter_sdf(spark)
    cols = ["conv_id", "turn_idx", "src", "subj", "pred", "obj"]
    jvm = st.extract_mentions(df)
    a = jvm.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
    b = (st.extract_mentions_pandas(df).select(*cols).toPandas()
         .sort_values(cols).reset_index(drop=True))
    assert a.equals(b)
    assert set(a["pred"].str.split("_").str[0]) == {"subclass", "rel", "attr"}
    assert len(a) == 11
    # the prefilter is in the executed plan
    plan = jvm._jdf.queryExecution().executedPlan().toString()
    assert "instr(text" in plan, plan
