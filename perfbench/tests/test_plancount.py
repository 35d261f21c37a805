"""The plan-node counter on a formatted adaptive plan recorded from the
event log (its initial plan holds the same operators again)."""

from __future__ import annotations

import os

from perfbench import plancount

with open(os.path.join(os.path.dirname(__file__), "data", "plan_final.txt")) as f:
    PLAN = f.read()


def test_counts_only_the_final_plan():
    assert plancount.count(PLAN, "/data/corpus/docs") == {
        "docs_scans": 7, "exchanges": 2, "broadcast_exchanges": 1, "python_maps": 2,
    }


def test_scans_match_the_table_path_exactly():
    assert plancount.count(PLAN, "/data/corpus/doc")["docs_scans"] == 0
    assert plancount.count(PLAN, "/data/corpus/docs/")["docs_scans"] == 7


def test_non_adaptive_plan():
    plan = (
        "== Physical Plan ==\n"
        "* Project (3)\n"
        "+- Exchange (2)\n"
        "   +- Scan parquet  (1)\n"
        "\n\n"
        "(1) Scan parquet \n"
        "Location: InMemoryFileIndex [file:/t/docs]\n"
        "\n"
        "(2) Exchange\n"
    )
    assert plancount.final_tree(plan) == [("Project", 3), ("Exchange", 2), ("Scan", 1)]
    assert plancount.count(plan, "/t/docs")["docs_scans"] == 1
