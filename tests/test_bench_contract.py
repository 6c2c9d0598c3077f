"""The bench's output contract, checked without a Spark session.

``__spark_entry__.queries()`` and ``bench``'s compare/summary steps work
before any session exists, so these run in milliseconds.
"""

from __future__ import annotations

import json

import pytest

import __spark_entry__
import bench

# the bench's caller keeps this many characters of its output
TAIL_CHARS = 2000


def test_headline_unique_and_in_catalog():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    assert set(bench.HEADLINE) <= set(__spark_entry__.queries())


def test_main_raises_on_unknown_headliner(monkeypatch):
    from prosnet_prefect_pipelines_spark import session

    def no_session(*args, **kwargs):
        raise AssertionError("the bench started before checking HEADLINE")

    monkeypatch.setattr(session, "get_spark", no_session)
    monkeypatch.setattr(bench, "HEADLINE", bench.HEADLINE + ["no_such_query"])
    with pytest.raises(KeyError, match="no_such_query"):
        bench.main([])


def test_summary_line_fits_the_tail():
    cold = {n: 123.456 for n in bench.HEADLINE}
    warm = {n: 99.999 for n in bench.HEADLINE[: bench.N_WARM]}
    prior = {
        "queries": {n: 111.111 for n in bench.HEADLINE},
        "warm_s": dict(warm),
    }
    pairs = bench.compare(cold, warm, {999: prior})
    serving = {qn: {"serving_s": 12.345} for qn in bench._serving_probes()}
    assert len(serving) == 5
    out = bench.summary(cold, warm, pairs, serving, 0.1, 1000)
    line = json.dumps(out)
    assert len(line) < TAIL_CHARS, len(line)
    assert set(out) == {
        "metric", "value", "unit", "sf", "n_queries", "warm_total",
        "shared_vs_prev", "serving_s", "n_regressions", "detail_file",
    }
    assert set(out["shared_vs_prev"]) == {
        "prev", "now_s", "prev_s", "now_warm_s", "prev_warm_s",
    }
    assert out["n_queries"] == len(bench.HEADLINE) == 97
    assert out["shared_vs_prev"]["prev"] == "r999"


def test_pairing_is_same_mode_and_flags_pct_and_abs():
    rounds = {
        5: {"queries": {"old_only": 1.0, "both": 9.0}, "warm_s": {"both": 9.0}},
        7: {
            "queries": {
                "both": 2.0, "prev_cold_only": 1.0, "now_cold_only": 1.0,
                "small": 0.1, "long": 10.0,
            },
            "warm_s": {"both": 1.0, "now_cold_only": 0.5},
        },
    }
    cold = {
        "both": 5.0, "prev_cold_only": 1.5, "now_cold_only": 1.2,
        "small": 0.35, "long": 12.0, "new": 3.0, "old_only": 1.31,
    }
    warm = {"both": 1.5, "prev_cold_only": 0.2}
    pairs = bench.compare(cold, warm, rounds)

    assert "new" not in pairs
    # the newest round that benched a query is its baseline
    assert pairs["both"]["round"] == 7 and pairs["old_only"]["round"] == 5
    # warm-to-warm only when both sides have warm; cold-to-cold otherwise
    both = pairs["both"]
    assert (both["mode"], both["now_s"], both["prev_s"]) == ("warm", 1.5, 1.0)
    for n in ("prev_cold_only", "now_cold_only", "small", "long", "old_only"):
        prev_cold = rounds[pairs[n]["round"]]["queries"][n]
        assert pairs[n]["mode"] == "cold"
        assert (pairs[n]["now_s"], pairs[n]["prev_s"]) == (cold[n], prev_cold)

    flagged = {n for n, p in pairs.items() if p["regression"]}
    # flagged: both (warm +50%, +0.5 s), prev_cold_only (+50%, +0.5 s),
    # old_only (+31%, +0.31 s); not flagged: small (+250% but +0.25 s),
    # long (+2 s but +20%), now_cold_only (+20%, +0.2 s)
    assert flagged == {"both", "prev_cold_only", "old_only"}
