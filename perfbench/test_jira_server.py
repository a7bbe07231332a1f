"""Paging, cutoff and fault arithmetic of the fake Jira server.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import jira_server as J  # noqa: E402
from jira_scraper_etl_spark.sources import jira_rest as R  # noqa: E402

TOTAL = 2000  # 1200 / 600 / 200 issues


@pytest.fixture(scope="module")
def corpus():
    return J.Corpus(seed=5, total=TOTAL)


@pytest.fixture
def served():
    server = J.make_server(J.Corpus(seed=5, total=TOTAL))
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        yield server
    finally:
        server.shutdown()
        server.server_close()
        t.join(timeout=10)
        assert not t.is_alive()


def source_cfg(server, project: str, **kw) -> R.SourceConfig:
    host, port = server.server_address
    return R.SourceConfig(base_url=f"http://{host}:{port}", project=project,
                          max_results=50, **kw)


def scan(server, project: str, cutoff: str | None = None) -> list[dict]:
    """Page through one project with the engine's own fetch loop and
    transport; retries do not sleep."""
    cfg = source_cfg(server, project, updated_since=cutoff)
    jql = R.build_jql(cfg, None)
    transport = R.requests_transport(cfg)
    _, total = R.fetch_page(transport, cfg, jql, 0, max_results=1, sleep=lambda s: None)
    out, start = [], 0
    while start < total:
        issues, _ = R.fetch_page(transport, cfg, jql, start, sleep=lambda s: None)
        out.extend(issues)
        start += len(issues)
    return out


def test_sizes_split_60_30_10_exactly():
    assert J.split_sizes(3000) == {"ALPHA": 1800, "BETA": 900, "GAMMA": 300}
    assert sum(J.split_sizes(1001).values()) == 1001


@pytest.mark.parametrize("n,start,size,expect", [
    (120, 0, 50, (0, 50)), (120, 100, 50, (100, 120)), (120, 120, 50, (120, 120)),
    (120, 500, 50, (120, 120)), (0, 0, 50, (0, 0)), (120, 7, 1, (7, 8)),
])
def test_page_slice(n, start, size, expect):
    assert J.page_slice(n, start, size) == expect


def test_jql_parsing_matches_the_source():
    cfg = R.SourceConfig(project="BETA", updated_since="2025-06-03T10:00:00")
    assert J.parse_jql(R.build_jql(cfg, None)) == ("BETA", "2025-06-03")
    assert J.parse_jql(R.build_jql(R.SourceConfig(project="BETA"), None)) == ("BETA", None)


def test_same_seed_same_corpus_and_schedule(corpus):
    again = J.Corpus(seed=5, total=TOTAL)
    assert [i.rendered for i in again.issues["BETA"]] == [i.rendered for i in corpus.issues["BETA"]]
    assert again.fault_slots == corpus.fault_slots
    assert J.Corpus(seed=6, total=TOTAL).fault_slots != corpus.fault_slots


def test_fault_schedule_arithmetic(corpus):
    pages = sum(-(-n // J.PAGE_SIZE) for n in corpus.sizes.values())
    slots = corpus.fault_slots
    assert len(slots) == J.fault_count(pages) == 3
    assert sorted(slots.values()) == sorted(J.FAULT_KINDS)
    for (project, start), _ in slots.items():
        assert start > 0 and start % J.PAGE_SIZE == 0 and start < corpus.sizes[project]
    assert J.fault_count(6000) == 60


@pytest.mark.parametrize("seed", range(6))
def test_warmup_project_holds_one_fault_of_each_kind(seed):
    slots = J.Corpus(seed=seed, total=TOTAL * 2).fault_slots
    assert len(slots) == J.fault_count(sum(-(-n // J.PAGE_SIZE) for n in J.split_sizes(TOTAL * 2).values()))
    warm = sorted(kind for (p, _), kind in slots.items() if p == J.WARMUP_PROJECT)
    assert warm == sorted(J.FAULT_KINDS)


def test_faults_beyond_one_of_each_kind_take_the_kinds_in_turn(monkeypatch):
    monkeypatch.setattr(J, "FAULT_RATE", 0.2)  # 8 of the 40 pages
    slots = J.Corpus(seed=3, total=TOTAL).fault_slots
    assert len(slots) == 8
    kinds = list(slots.values())
    assert sorted(kinds[:3]) == sorted(J.FAULT_KINDS)
    assert kinds[3:] == [J.FAULT_KINDS[r % 3] for r in range(5)]
    assert all(p == J.WARMUP_PROJECT for p, _ in list(slots)[:3])


def test_restamps_keep_the_delta_constant(corpus):
    c = J.Corpus(seed=5, total=TOTAL)
    for _ in range(3):
        day = c.advance()
        for p, n in c.sizes.items():
            delta = c.select(p, J.day_str(day - 1))
            assert len(delta) == 2 * J.restamp_count(n)
            assert {i.key for i in delta} == set(c.restamped[day][p] + c.restamped[day - 1][p])


def test_cutoff_filters_and_renumbers_from_zero(served):
    c = served.RequestHandlerClass.state.corpus
    day = served.RequestHandlerClass.state.advance()
    for p in J.PROJECTS:
        got = scan(served, p, J.day_str(day - 1))
        want = [i.key for i in c.select(p, J.day_str(day - 1))]
        assert [i["key"] for i in got] == want


def test_full_scan_counts_repeat_exactly_per_operation(served):
    state = served.RequestHandlerClass.state
    counts = []
    for _ in range(2):
        state.begin_op()
        before = state.counters.snapshot()
        keys = [i["key"] for p in J.PROJECTS for i in scan(served, p)]
        after = state.counters.snapshot()
        counts.append({k: after[k] - before[k] for k in
                       ("requests", "probe_requests", "pages_ok", "http_429",
                        "http_5xx", "truncated", "bytes_served")})
        assert keys == [i.key for p in J.PROJECTS for i in state.corpus.issues[p]]
    assert counts[0] == counts[1]
    pages = sum(-(-n // 50) for n in state.corpus.sizes.values())
    assert counts[0]["probe_requests"] == len(J.PROJECTS)
    assert counts[0]["pages_ok"] == pages
    assert counts[0]["http_429"] == counts[0]["http_5xx"] == counts[0]["truncated"] == 1
    assert counts[0]["requests"] == pages + len(J.PROJECTS) + 3
