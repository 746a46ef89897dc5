"""The blocked candidate generator against a pure-Python reference
(J1'): three sources, one Zipf-hot token salted by hot_key_threshold,
top-ancestor context keys and the touch_sources restriction."""

from __future__ import annotations

import itertools

import pytest

from veealign_spark.functions.text_norm import normalize_term
from veealign_spark.operators import candidates as cand

CONCEPTS = [
    # (src, id, label); "common" is the hot token (12 entities)
    ("srcA", "ConferencePaper", None),
    ("srcA", "Reviewer", None),
    ("srcA", "X17", "Program Committee"),
    ("srcA", "Has", None),  # stopword only: no token key, ancestor only
    *[("srcA", f"CommonThing{i}", None) for i in range(5)],
    ("srcB", "conference_paper", None),
    ("srcB", "review_form", None),
    ("srcB", "program_chair", None),
    ("srcB", "lonely", None),
    *[("srcB", f"common_item_{i}", None) for i in range(4)],
    ("srcC", "PaperReview", None),
    ("srcC", "Attendee", None),
    ("srcC", "Venue", None),
    ("srcC", "c_0042", "PC Member"),
    *[("srcC", f"common_widget_{i}", None) for i in range(3)],
]
ANCESTORS = [
    # (src, entity, ancestor)
    ("srcA", "Reviewer", "Person"),
    ("srcA", "Has", "Thing"),
    ("srcB", "lonely", "Person"),
    ("srcC", "Attendee", "Person"),
    ("srcC", "Venue", "Thing"),
]
HOT_KEY_THRESHOLD = 5


def _expected(with_ancestors: bool, touch_sources: list[str] | None) -> set:
    """Every pair with src1 < src2 whose sides share a normalized token
    or a top ancestor, oriented that way; with touch_sources, only
    pairs with a side in one of them."""
    keys: dict[str, set[str]] = {}
    for src, id_, label in CONCEPTS:
        keys[f"{src}#{id_}"] = set(normalize_term(label or id_).split()) - {""}
    if with_ancestors:
        for src, ent, anc in ANCESTORS:
            keys[f"{src}#{ent}"].add(f"anc:{anc}")
    out = set()
    for k1, k2 in itertools.product(keys, keys):
        s1, s2 = k1.split("#")[0], k2.split("#")[0]
        if s1 >= s2 or not keys[k1] & keys[k2]:
            continue
        if touch_sources is None or s1 in touch_sources or s2 in touch_sources:
            out.add((k1, k2))
    return out


@pytest.mark.parametrize("touch_sources", [None, ["srcB"]])
@pytest.mark.parametrize("with_ancestors", [False, True])
def test_blocked_candidates_equal_python_reference(spark, with_ancestors, touch_sources):
    hot = sum("common" in normalize_term(label or id_).split() for _, id_, label in CONCEPTS)
    assert hot > HOT_KEY_THRESHOLD  # the census salts this key
    concepts = spark.createDataFrame(CONCEPTS, "src string, id string, label string")
    anc = (
        spark.createDataFrame(ANCESTORS, "src string, entity string, ancestor string")
        if with_ancestors else None
    )
    got = cand.blocked_candidates_multi(
        concepts, anc, hot_key_threshold=HOT_KEY_THRESHOLD, n_salt=4,
        touch_sources=touch_sources,
    ).collect()
    pairs = [(r["ent1"], r["ent2"]) for r in got]
    assert len(pairs) == len(set(pairs))  # deduplicated
    expected = _expected(with_ancestors, touch_sources)
    assert set(pairs) == expected
    # the ancestor-only pairs are really there when ancestors are keys
    assert (("srcA#Reviewer", "srcB#lonely") in expected) == with_ancestors
