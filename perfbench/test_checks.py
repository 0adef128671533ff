"""The benchmark's own checks reject a wrong graph. Runs without Spark:

    python3 -m pytest perfbench -q
"""

import checks

ROWS = [
    ("Q1", "P1", "Q2", "Ada Lo", "born in", "Bo Ki", 2, "https://example.org/page/1/0"),
    ("Q3", "P2", "Q1", "Ce Mu", "part of", "Ada Lo", 1, "https://example.org/page/1/4"),
]


def test_graph_matching_twin_and_golden_passes():
    assert checks.graph_problems(ROWS, list(reversed(ROWS)), checks.digest(ROWS)) == []


def test_wrong_golden_digest_is_rejected():
    wrong = "0" * 64
    problems = checks.graph_problems(ROWS, ROWS, wrong)
    assert len(problems) == 1 and "golden" in problems[0]


def test_graph_differing_from_twin_is_rejected():
    changed = [ROWS[0], ROWS[1][:6] + (2, ROWS[1][7])]
    assert any("twin" in p for p in checks.graph_problems(changed, ROWS, None))


def test_empty_and_duplicated_graphs_are_rejected():
    assert checks.graph_problems([], [], None) == ["graph is empty"]
    assert any("duplicate" in p for p in checks.graph_problems(ROWS + ROWS[:1], ROWS, None))


def test_twin_graph_groups_mentions_and_drops_ambiguous_names():
    ents = [("Q1", "Ada Lo"), ("Q2", "Bo Ki"), ("Q3", "Ce Mu"), ("Q4", "Ce Mu")]
    rels = [("P1", "born in")]
    mentions = [
        ("u2", "Ada Lo", "born in", "Bo Ki"),
        ("u1", "Ada Lo", "born in", "Bo Ki"),
        ("u1", "Ce Mu", "born in", "Bo Ki"),  # 'Ce Mu' has two ids: unlinkable
    ]
    assert checks.twin_graph(mentions, ents, rels) == [
        ("Q1", "P1", "Q2", "Ada Lo", "born in", "Bo Ki", 2, "u1")
    ]


def test_micro_f1_counts_set_overlap_per_page():
    pages = [
        {"url": "u1", "lang": "en", "gold": [{"s": "a", "r": "r", "o": "b"}]},
        {"url": "u2", "lang": "en", "gold": [{"s": "c", "r": "r", "o": "d"}]},
        {"url": "u3", "lang": "de", "gold": [{"s": "e", "r": "r", "o": "f"}]},
    ]
    mentions = [("u1", "a", "r", "b"), ("u1", "a", "r", "b"), ("u2", "x", "r", "y")]
    # 1 correct of 2 predicted, 1 of 2 gold: P = R = F1 = 0.5
    assert checks.micro_f1(pages, mentions) == 0.5
