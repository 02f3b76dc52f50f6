"""Seeded replay traffic and an O(1) fake Showdown API for the
``sources`` layer.

``Traffic`` decides everything about replay ``n`` from ``(seed, n)``
alone: its upload time (``per_day`` uploads spread over each simulated
day, strictly increasing in ``n``), its status (ok, flaky or dead) and
its document. ``IndexedTransport`` serves that traffic with the
observable behaviour of ``sources.fake.FakeShowdownTransport`` (same
``before`` cursor, same 51-row descending pages, flaky 500s that heal
after ``HEAL_AFTER`` attempts, permanent 404s for dead replays) but
finds a replay by parsing its id instead of scanning the corpus, so
the cost of a fetch does not grow with the history the benchmark
preloads. It holds no corpus, so it pickles small into every
download task.

Requests and errors are counted with Spark accumulators the benchmark
owns: search pages are fetched on the driver, replays inside executor
tasks, and both sides add to the same counters.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from pokemon_showdown_airflow_etl_spark.sources.api import PAGE_SIZE

DAY_S = 86400
T0 = 1_700_006_400  # a UTC midnight, so replay n's day is its date partition
FORMAT_ID = "gen9ou"
# Shares of uploads that are flaky (500s until HEAL_AFTER attempts, as
# sources.fake's default) and dead (permanent 404). Not measured from
# the reference, whose code in this repo records no failure rates:
# chosen so that every simulated day exercises retry_failed and the
# failed-marking path (see METRICS.md).
FLAKY_SHARE = 0.05
DEAD_SHARE = 0.02
HEAL_AFTER = 2

_ID = re.compile(r"/([^/]+)\.json$")


def _mix(*xs: int) -> int:
    """splitmix64 over the arguments: a stable 64-bit hash."""
    h = 0x9E3779B97F4A7C15
    for x in xs:
        h = (h ^ (x & 0xFFFFFFFFFFFFFFFF)) * 0xBF58476D1CE4E5B9 & 0xFFFFFFFFFFFFFFFF
        h = (h ^ (h >> 27)) * 0x94D049BB133111EB & 0xFFFFFFFFFFFFFFFF
        h ^= h >> 31
    return h


@dataclass(frozen=True)
class Traffic:
    seed: int
    per_day: int

    def replay_id(self, n: int) -> str:
        return f"{FORMAT_ID}-{n}"

    def index_of(self, replay_id: str) -> int | None:
        prefix, _, num = replay_id.rpartition("-")
        if prefix != FORMAT_ID or not num.isdigit():
            return None
        return int(num)

    def uploadtime(self, n: int) -> int:
        day, k = divmod(n, self.per_day)
        slot = DAY_S // self.per_day
        return T0 + day * DAY_S + k * slot + _mix(self.seed, n, 1) % slot

    def status(self, n: int) -> str:
        u = _mix(self.seed, n, 2) / 2.0**64
        if u < DEAD_SHARE:
            return "dead"
        if u < DEAD_SHARE + FLAKY_SHARE:
            return "flaky"
        return "ok"

    def players(self, n: int) -> tuple[str, str]:
        h = _mix(self.seed, n, 3)
        return f"player{h % 97}", f"player{(h >> 16) % 89 + 97}"

    def doc(self, n: int) -> dict:
        """The full replay document: a |t:|-stamped battle log of 1-6
        rounds, like ``sources.fake.make_replays`` with seeded content."""
        ts = self.uploadtime(n)
        p1, p2 = self.players(n)
        h = _mix(self.seed, n, 4)
        lines = [f"|player|p1|{p1}", f"|player|p2|{p2}", f"|t:|{ts - 600}", "|start"]
        for r in range(h % 6 + 1):
            lines += [
                f"|t:|{ts - 590 + 60 * r}",
                f"|move|p1a: Mon{(h >> (4 + r)) % 9}|Tackle",
                f"|move|p2a: Mon{(h >> (12 + r)) % 9}|Growl",
            ]
        lines.append(f"|win|{p1 if h >> 40 & 1 else p2}")
        return {
            "id": self.replay_id(n),
            "format": FORMAT_ID,
            "uploadtime": ts,
            "p1": p1,
            "p2": p2,
            "players": [p1, p2],
            "rating": 1000 + h % 800,
            "log": "\n".join(lines),
        }

    def search_row(self, n: int) -> dict:
        p1, p2 = self.players(n)
        return {
            "id": self.replay_id(n),
            "uploadtime": self.uploadtime(n),
            "p1": p1,
            "p2": p2,
            "format": FORMAT_ID,
            "rating": 1000 + _mix(self.seed, n, 4) % 800,
        }


@dataclass
class IndexedTransport:
    """Transport callable over ``traffic``; replays ``0..visible-1``
    have been uploaded. ``counters`` maps search_requests,
    replay_requests and replay_errors to Spark accumulators (or to any
    object with ``add``)."""

    traffic: Traffic
    counters: dict
    visible: int = 0
    _attempts: dict = field(default_factory=dict)

    def __call__(self, url: str, connect_timeout: float, read_timeout: float) -> tuple[int, str]:
        if "/search.json" in url:
            self.counters["search_requests"].add(1)
            return self._search(url)
        self.counters["replay_requests"].add(1)
        m = _ID.search(url)
        status, body = self._replay(m.group(1)) if m else (404, "not found")
        if status != 200:
            self.counters["replay_errors"].add(1)
        return status, body

    def _newest_before(self, cutoff: int) -> int:
        """Largest n < visible with uploadtime(n) < cutoff, else -1
        (upload times are strictly increasing in n)."""
        lo, hi = 0, self.visible  # answer in [lo - 1, hi - 1]
        while lo < hi:
            mid = (lo + hi) // 2
            if self.traffic.uploadtime(mid) < cutoff:
                lo = mid + 1
            else:
                hi = mid
        return lo - 1

    def _search(self, url: str) -> tuple[int, str]:
        fmt = re.search(r"format=([^&]+)", url).group(1)
        if fmt != FORMAT_ID:
            return 200, "[]"
        before = re.search(r"before=(\d+)", url)
        top = self._newest_before(int(before.group(1))) if before else self.visible - 1
        rows = [self.traffic.search_row(n) for n in range(top, max(top - PAGE_SIZE, -1), -1)]
        return 200, json.dumps(rows)

    def _replay(self, rid: str) -> tuple[int, str]:
        n = self.traffic.index_of(rid)
        if n is None or n >= self.visible:
            return 404, "not found"
        status = self.traffic.status(n)
        if status == "dead":
            return 404, "gone"
        if status == "flaky":
            seen = self._attempts.get(rid, 0)
            self._attempts[rid] = seen + 1
            if seen < HEAL_AFTER:
                return 500, "flaky"
        return 200, json.dumps(self.traffic.doc(n))
