"""Multifarm-style cross-lingual golden test: matched concepts share
no surface tokens; alignment goes through the multilingual-embedding
stand-in. P/R >= 0.95 (the conference/multifarm quality bar)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from veealign_spark import datagen, schemas
from veealign_spark.functions.embeddings import TRANSLATIONS
from veealign_spark.functions.text_norm import normalize_term
from veealign_spark.operators import candidates as cand
from veealign_spark.operators import metrics
from veealign_spark.plans.pipeline import PipelineConfig, run_pipeline, concepts_from_triples
from veealign_spark.sources.transcripts import extract_mentions, mentions_to_triples


@pytest.fixture(scope="module")
def ml_pair():
    return datagen.make_multilingual_pair(seed=42)


def test_names_share_no_tokens(ml_pair):
    gold = ml_pair["gold"]
    crossings = 0
    for e1, e2 in zip(gold.ent1, gold.ent2):
        t1 = set(normalize_term(e1.split("#", 1)[1]).split())
        t2 = set(normalize_term(e2.split("#", 1)[1]).split())
        if t1 & t2:
            crossings += 1
    # most matched names are fully translated (untranslated tokens are
    # the synthetic 'termNNN' spillover only)
    assert crossings < len(gold) * 0.5


def test_multilingual_pr(spark, ml_pair):
    tr, _ = datagen.make_transcripts(ml_pair["triples"], seed=42)
    sdf = spark.createDataFrame(tr, schema=schemas.TRANSCRIPTS)
    gold = spark.createDataFrame(ml_pair["gold"])
    res = run_pipeline(spark, sdf, PipelineConfig(blocking="cross"))
    m = metrics.pr_metrics(res["accepted"], gold).collect()[0]
    assert m["precision"] >= 0.95, m
    assert m["recall"] >= 0.95, m


def test_lexicon_blocking_covers_matches(spark, ml_pair):
    tr, _ = datagen.make_transcripts(ml_pair["triples"], seed=42)
    sdf = spark.createDataFrame(tr, schema=schemas.TRANSCRIPTS)
    triples = mentions_to_triples(extract_mentions(sdf))
    concepts = concepts_from_triples(triples)
    lex = spark.createDataFrame(
        list(TRANSLATIONS.items()), "token string, canonical string"
    )
    both = concepts.filter(F.col("src").isin("src1", "src2"))
    blocked = cand.blocked_candidates_multi(both, lexicon=lex)
    pairs = {(r["ent1"], r["ent2"]) for r in blocked.collect()}
    gold = ml_pair["gold"]
    concept_gold = [
        (a, b) for a, b in zip(gold.ent1, gold.ent2)
        if not a.split("#")[1].startswith(("rel_", "attr_"))
    ]
    covered = sum((a, b) in pairs for a, b in concept_gold)
    assert covered / len(concept_gold) >= 0.95


def test_multifarm_real_pair_e2e(spark):
    """Real multifarm fixtures e2e: cmt/sigkdd in de+en — the learned
    coded-id -> English-label translation (trained on the SAME-ontology
    de-en golds) must let the engine align the held-out CROSS-ontology
    cross-lingual pairs. Pins the measured slice (micro F1 0.917); the
    floor guards against silent translation-map or parser regressions."""
    import os

    from veealign_spark.plans import multifarm

    ds = "/root/reference/datasets/multifarm"
    if not os.path.isdir(ds):  # pragma: no cover - fixtures absent
        pytest.skip("multifarm fixtures not available")
    res = multifarm.evaluate_multifarm(
        spark, ds, langs=["de", "en"], ontos=["cmt", "sigkdd"]
    )
    m = res["micro"]
    assert m["tp"] >= 20 and m["f1"] >= 0.85, m


def test_ar_fr_gold_phantom_ids_are_a_fixture_property():
    """Root cause of the ar-fr multifarm outlier (F1 0.149 vs ~0.64
    for every other ar pairing): ~74% of ar-fr cross-ontology gold
    cells reference coded ids that DO NOT EXIST in the named ontology
    file (e.g. cmt-confOf-fr-ar.rdf aligns cmt_fr's 'author' to
    confOf_ar#c-8335305-4555146 — an id that appears only in
    cmt-ar.owl, never in confOf-ar.owl). An engine cannot emit an
    entity absent from its input, so those cells are unreachable fn
    by construction and every correct emission over the REAL entities
    counts fp. This census pins that the defect is confined to the
    ar-fr fixture files and caps reachable recall there at ~26% —
    i.e. no engine-side tie-break (label-aware or otherwise) can
    recover it."""
    import collections
    import os
    import re

    droot = "/root/reference/datasets/multifarm"
    odir, adir = f"{droot}/ontologies", f"{droot}/alignments"
    if not os.path.isdir(adir):
        pytest.skip("reference checkout not present")
    onto_ids = {}

    def ids_of(name):
        if name not in onto_ids:
            txt = open(f"{odir}/{name}.owl", encoding="utf-8",
                       errors="replace").read()
            onto_ids[name] = set(re.findall(r"#((?:c|ent|op)-\d+-\d+)", txt))
        return onto_ids[name]

    pat = re.compile(
        r'entity1 rdf:resource="http://(\w+)#([\w-]+)"/>\s*'
        r'<entity2 rdf:resource="http://(\w+)#([\w-]+)"',
        re.S,
    )
    bad = collections.defaultdict(lambda: [0, 0])
    for f in sorted(os.listdir(adir)):
        m = re.match(r"(\w+)-(\w+)-(\w+)-(\w+)\.rdf$", f)
        if not m:
            continue
        o1, o2, l1, l2 = m.groups()
        if o1 == o2:
            continue
        cells = pat.findall(open(f"{adir}/{f}", encoding="utf-8",
                                 errors="replace").read())
        key = tuple(sorted((l1, l2)))
        for _s1, i1, _s2, i2 in cells:
            bad[key][1] += 1
            if i1 not in ids_of(f"{o1}-{l1}") or i2 not in ids_of(f"{o2}-{l2}"):
                bad[key][0] += 1
    phantom_pairs = {k: tuple(v) for k, v in bad.items() if v[0]}
    assert set(phantom_pairs) == {("ar", "fr")}, phantom_pairs
    n_bad, n = phantom_pairs[("ar", "fr")]
    assert 0.70 <= n_bad / n <= 0.80, (n_bad, n)
