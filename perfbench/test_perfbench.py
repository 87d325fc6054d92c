"""Tests for the benchmark's own pieces (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402
from tracing import Span  # noqa: E402


def _span(i, parent, start, end, name="x"):
    return Span(i, name, parent, "t", start, end)


def test_self_time_subtracts_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 5.0, 9.0),
        _span(4, 3, 6.0, 7.0),
    ]
    own = tracing.self_times(spans)
    assert own == pytest.approx({1: 4.0, 2: 2.0, 3: 3.0, 4: 1.0})
    # self times of a tree add up to the root's duration
    assert sum(own.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    # children on other threads (stream callbacks) may overlap each other
    # and outlive the parent; only the covered part of the parent counts
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 2.0, 6.0),
        _span(3, 1, 4.0, 8.0),
        _span(4, 1, 9.0, 12.0),
    ]
    assert tracing.self_times(spans)[1] == pytest.approx(10.0 - 6.0 - 1.0)


def test_covered_merges_touching_and_nested_intervals():
    assert tracing.covered([]) == 0.0
    assert tracing.covered([(0, 1), (1, 2), (5, 6), (5.5, 5.7)]) == pytest.approx(3.0)


def test_outermost_skips_nested_same_layer_spans():
    spans = [
        _span(1, None, 0, 10, "pass"),
        _span(2, 1, 1, 5, "tier.lb_rollup_global"),
        _span(3, 2, 2, 4, "tier.lb_rollup"),
        _span(4, 1, 6, 7, "tier.cascade"),
    ]
    assert [s.id for s in tracing.outermost(spans, "tier.")] == [2, 4]


def test_attribution_by_job_group_then_by_time():
    spans = [
        _span(1, None, 100.0, 110.0, "pass"),
        _span(2, 1, 101.0, 104.0, "stream.drain"),
        _span(3, 2, 102.0, 103.0, "catalog.write_tier_log"),
    ]
    jobs = [
        # started on the client thread inside span 1's job group
        {"job": 0, "group": "perfbench-1", "submitted": 108.0, "stages": [0]},
        # a stream micro-batch job: its own group, attributed by time
        {"job": 1, "group": "stream-run-id", "submitted": 102.5, "stages": [1, 2]},
        {"job": 2, "group": None, "submitted": 200.0, "stages": [3]},
    ]
    stage = dict.fromkeys(tracing.STAGE_FIELDS, 1)
    stages = [
        {"stage": 0, "attempt": 0, "submitted": 108.0, **stage},
        {"stage": 1, "attempt": 0, "submitted": 102.5, **stage},
        {"stage": 2, "attempt": 0, "submitted": None, **stage},  # skipped
        {"stage": 3, "attempt": 0, "submitted": 200.0, **stage},
    ]
    work = tracing.attribute(spans, jobs, stages)
    assert work[1]["jobs"] == 1 and work[1]["numTasks"] == 1
    assert work[3]["jobs"] == 1 and work[3]["numTasks"] == 1
    assert 2 not in work


def test_metric_names_follow_the_grammar():
    for name in list(W.E2E) + list(W.LAYER):
        assert run.NAME_RE.match(name), name
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name), name
    for unit in list(W.E2E.values()) + list(W.LAYER.values()):
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit), unit


def test_printed_names_are_the_declared_names():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == W.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == W.LAYER
    assert {w["name"] for w in spec["workloads"]} == set(W.WORKLOADS)
    assert run.declared_names() == (set(W.E2E), set(W.LAYER))


def test_queries_cover_the_four_families_once():
    assert len(W.QUERIES) == len(set(W.QUERIES)) == 28
    assert set(W.FAMILY_OF.values()) == set(W.FAMILIES)


def test_turns_are_seeded_and_equally_shaped():
    a = inputs.make_turns(1, W.TURNS)
    b = inputs.make_turns(1, W.TURNS)
    c = inputs.make_turns(2, W.TURNS)
    assert a.equals(b)
    assert not a["ts"].equals(c["ts"])
    pa = inputs.turns_properties(a, inputs.mega_convs(a, W.TURNS.mega_turns))
    pc = inputs.turns_properties(c, inputs.mega_convs(c, W.TURNS.mega_turns))
    assert pa["day_partitions"] == pc["day_partitions"] == W.TURNS.days
    assert abs(pa["turns"] - pc["turns"]) < 0.05 * pa["turns"]
    assert abs(pa["mega_share"] - pc["mega_share"]) < 0.05
    # turn order within a conversation survives the reshape
    for df in (a, c):
        ordered = df.sort_values(["conv_id", "turn_idx"])
        assert (ordered.groupby("conv_id")["ts"].diff().dropna() >= np.timedelta64(0)).all()


def test_tables_are_seeded_and_equally_shaped():
    a = inputs.make_tables(1, W.TABLES)
    b = inputs.make_tables(1, W.TABLES)
    c = inputs.make_tables(2, W.TABLES)
    for name in a:
        assert a[name].equals(b[name])
        assert len(a[name]) == len(c[name])
        assert not a[name].equals(c[name])
    pa, pc = inputs.tables_properties(a), inputs.tables_properties(c)
    assert pa["events"] == pc["events"] == W.TABLES.events


def test_tables_follow_the_measured_sf_distributions():
    t = inputs.make_tables(1, W.TABLES)
    props = inputs.tables_properties(t)
    assert props["series"] == W.TABLES.users
    assert props["event_days"] == W.TABLES.days
    assert props["near_dup_documents"] == round(0.05 * W.TABLES.documents)
    value = t["events"]["value"]
    # exponential: standard deviation equal to the mean, mean 50
    assert abs(value.mean() - 50) < 2.5 and abs(value.std() / value.mean() - 1) < 0.05
    words = t["documents"]["text"].str.split().str.len()
    assert words.min() >= 10 and words.max() <= 101
    docs = t["documents"]
    assert (docs["n_chars"] == docs["text"].str.len()).all()


def test_stats_reference_keys_first_and_last_by_order_key():
    pdf = inputs.make_turns(3, W.TURNS).head(200)
    ref = W.stats_rollup(pdf, "h")
    assert ref["n_turns"].sum() == len(pdf)
    assert (ref["first_ord"] <= ref["last_ord"]).all()
