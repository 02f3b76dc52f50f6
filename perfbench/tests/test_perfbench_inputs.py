"""Tests of the benchmark's inputs and definition: the seeded generators,
the O(1) fake API against the program's own fake, the oracle
comparison, and BENCHMARK.json against the metrics the harness emits.

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from perfbench.gen import make_documents, write_tables
from perfbench.metrics import END_TO_END, PER_LAYER
from perfbench.oracle import canonical
from perfbench.traffic import T0, IndexedTransport, Traffic
from perfbench.workloads import WORKLOADS
from pokemon_showdown_airflow_etl_spark.sources.api import (
    PAGE_SIZE,
    ReplayApiClient,
    ReplayFetchError,
)
from pokemon_showdown_airflow_etl_spark.sources.fake import FakeShowdownTransport

ROOT = Path(__file__).resolve().parents[2]


class Count:
    def __init__(self):
        self.value = 0

    def add(self, n):
        self.value += n


def transport(traffic, visible):
    counters = {k: Count() for k in ("search_requests", "replay_requests", "replay_errors")}
    return IndexedTransport(traffic, counters, visible=visible)


def test_traffic_is_a_pure_function_of_the_seed():
    a, b, c = Traffic(7, 100), Traffic(7, 100), Traffic(8, 100)
    assert [a.doc(n) for n in range(50)] == [b.doc(n) for n in range(50)]
    assert [a.doc(n) for n in range(50)] != [c.doc(n) for n in range(50)]
    times = [a.uploadtime(n) for n in range(300)]
    assert times == sorted(set(times))  # strictly increasing
    # day d's uploads fall on day d (T0 is a UTC midnight)
    assert {(t - T0) // 86400 for t in times[:100]} == {0}
    assert {(t - T0) // 86400 for t in times[200:300]} == {2}
    statuses = [a.status(n) for n in range(20000)]
    assert 0.01 < statuses.count("dead") / 20000 < 0.03
    assert 0.04 < statuses.count("flaky") / 20000 < 0.06


def test_search_pages_match_the_program_fake_transport():
    """Same cursor walk, same 51-row descending pages, same rows, as
    sources.fake.FakeShowdownTransport over the materialized corpus."""
    traffic = Traffic(3, 40)
    visible = 130
    ours = transport(traffic, visible)
    ref = FakeShowdownTransport({"gen9ou": [traffic.doc(n) for n in range(visible)]})
    for before in (None, traffic.uploadtime(129), traffic.uploadtime(60) + 1, traffic.uploadtime(0)):
        url = "https://x/search.json?format=gen9ou" + (f"&before={before}" if before else "")
        s1, page = ours(url, 1, 1)
        s2, want = ref(url, 1, 1)
        assert (s1, json.loads(page)) == (s2, json.loads(want))
    client = ReplayApiClient(transport=ours, sleeper=lambda s: None)
    first = client.fetch_page("gen9ou")
    assert len(first) == PAGE_SIZE and first[0]["id"] == "gen9ou-129"
    assert client.fetch_page("gen9ou", first[-1]["uploadtime"])[0]["id"] == "gen9ou-78"
    assert client.fetch_page("gen8ou") == []
    assert ours.counters["search_requests"].value == 7


def test_replay_fetches_heal_flaky_and_fail_dead_within_client_retries():
    traffic = Traffic(5, 1000)
    tp = transport(traffic, 1000)
    client = ReplayApiClient(transport=tp, sleeper=lambda s: None)
    flaky = next(n for n in range(1000) if traffic.status(n) == "flaky")
    dead = next(n for n in range(1000) if traffic.status(n) == "dead")
    ok = next(n for n in range(1000) if traffic.status(n) == "ok")
    assert client.fetch_replay(traffic.replay_id(flaky)) == traffic.doc(flaky)
    assert tp.counters["replay_requests"].value == 3  # two 500s, then the doc
    with pytest.raises(ReplayFetchError) as err:
        client.fetch_replay(traffic.replay_id(dead))
    assert err.value.status == 404
    assert client.fetch_replay(traffic.replay_id(ok)) == traffic.doc(ok)
    assert tp.counters["replay_requests"].value == 5
    assert tp.counters["replay_errors"].value == 3
    # not uploaded yet, or not an id of this traffic
    assert tp(f"https://x/{traffic.replay_id(1000)}.json", 1, 1)[0] == 404
    assert tp("https://x/gen9ou-abc.json", 1, 1)[0] == 404


def test_documents_plant_the_stated_duplicates():
    t = make_documents(11, 1000, exact_share=0.1, near_share=0.1, id_offset=500)
    assert make_documents(11, 1000, exact_share=0.1, near_share=0.1, id_offset=500) == t
    texts = t.column("text").to_pylist()
    assert len(texts) - len(set(texts)) == 100  # base texts never collide
    assert t.column("doc_id").to_pylist() == list(range(500, 1500))
    base = set(texts[:800])
    assert all(x in base for x in texts[900:])
    assert all(x not in base and len(x.split()) >= 20 for x in texts[800:900])


def test_tables_are_seeded_and_sized(tmp_path):
    counts = write_tables(str(tmp_path / "a"), 4, 2000)
    write_tables(str(tmp_path / "b"), 4, 2000)
    assert counts["events"] == 2000 and counts["orders"] == 3000 and counts["lineitem"] == 12000
    for name in counts:
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet")), name
    ids = pq.read_table(tmp_path / "a" / "events.parquet").column("event_id").to_pylist()
    assert ids == list(range(2000))  # the battle-log corpus keys on contiguous ids


def test_canonical_is_order_insensitive_and_bit_exact():
    a = canonical(["b", "a"], [(1, 0.1), (2, None)])
    assert a == canonical(["a", "b"], [(None, 2), (0.1, 1)])
    assert canonical(["x"], [(0.1,)]) != canonical(["x"], [(0.10000000000000002,)])
    assert canonical(["x"], [(-0.0,)]) == canonical(["x"], [(0.0,)])


def test_benchmark_json_lists_what_the_harness_emits():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
