"""Benchmark/probe tooling must reference real registry names — a typo'd
HEADLINE entry silently drops out of the driver-visible bench (`names =
[n for n in HEADLINE if n in qs]`), shrinking coverage without failing."""

from __future__ import annotations

import __spark_entry__ as se
import bench
from tools.scaling_probe import DEFAULT as PROBE_DEFAULT


def test_headline_names_are_registered():
    qs = se.queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, f"bench.HEADLINE names not in registry: {missing}"


def test_probe_default_names_are_registered():
    qs = se.queries()
    missing = [n for n in PROBE_DEFAULT if n not in qs]
    assert not missing, f"scaling_probe DEFAULT not in registry: {missing}"


def test_probe2x_names_are_registered():
    from tools.probe_2x import QUERIES

    qs = se.queries()
    missing = [n for n in QUERIES if n not in qs]
    assert not missing, f"probe_2x QUERIES not in registry: {missing}"


def test_cluster_precedes_stats_in_headline():
    # The documented timing convention — dedup_cluster reports the COLD
    # labeling pass, dedup_cluster_stats the WARM shared-label consumer —
    # holds only if dedup_cluster runs first (its per-iteration memo
    # reset makes it cold; stats then reads the memo the last cluster
    # run left). A reorder would flip stats back to cold timing with no
    # value change, silently breaking cross-round comparisons.
    assert bench.HEADLINE.index("dedup_cluster") < bench.HEADLINE.index(
        "dedup_cluster_stats"
    )


def test_cold_memos_name_headline_queries():
    # Every cold-timed query must be in HEADLINE, or its reset is dead.
    missing = [n for n in bench.COLD_MEMOS if n not in bench.HEADLINE]
    assert not missing, f"bench.COLD_MEMOS names not in HEADLINE: {missing}"
