"""Seeded fake Jira REST server: the load generator of the benchmark.

It serves ``GET /rest/api/latest/search`` the way Jira does for the
queries the engine's REST source sends:

* the JQL ``project = X`` and ``updated >= 'YYYY-MM-DD'`` filters are
  applied, and the filtered result is renumbered from ``startAt=0``
  (the source relies on that renumbering for incremental scans);
* results are ordered by ``created`` ascending;
* pages are assembled from issue JSON rendered once at generation time,
  and each assembled page is cached until the corpus changes.

Faults follow a seeded schedule keyed by (project, startAt, attempt):
exactly ``fault_count(pages)`` page slots, drawn by the seed among the
pages at index >= 1 of each project's full listing, answer their first
attempt of an operation with a 429, a 503 or a truncated 200 body. One
slot of each kind is drawn from ``WARMUP_PROJECT``, the smallest
project, which the benchmark's set-up scans, so set-up runs every retry
path; further slots take the kinds in turn. Planning probes
(``maxResults=1``) never fault. Fixing the count, and keeping page 0
(the only page of a small incremental delta) clean, makes every
operation of a run, and every seed, carry the same retry work.

Control calls under ``/_bench/`` let the benchmark begin an operation
(reset attempt counters), advance the simulated day (re-stamping a
seeded ~0.5% of each project's issues with new text), read counters,
and read the keys and raw text the server serves.

Run as a process: ``python3 jira_server.py --seed N --issues 3000``
prints ``PORT <n>`` once the corpus is ready, then serves until
terminated.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import math
import os
import re
import sys
import threading
import time
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import numpy as np

PROJECTS = ("ALPHA", "BETA", "GAMMA")
PROJECT_SHARES = (0.6, 0.3, 0.1)
WARMUP_PROJECT = PROJECTS[-1]  # the smallest
DAY0 = dt.date(2025, 6, 1)
HISTORY_DAYS = 400
FAULT_RATE = 0.01
FAULT_KINDS = ("429", "503", "truncated")
RESTAMP_RATE = 0.005
PAGE_SIZE = 50  # reference page size; fault slots sit on its page starts

_STATUSES = ("Open", "In Progress", "Resolved", "Closed", "Reopened")
_PRIORITIES = ("Blocker", "Critical", "Major", "Minor", "Trivial")
_TYPES = ("Bug", "Improvement", "New Feature", "Task", "Sub-task")
_EXCEPTIONS = ("java.lang.NullPointerException", "java.io.IOException",
               "java.lang.IllegalStateException",
               "org.apache.spark.SparkException",
               "java.util.concurrent.TimeoutException")
_SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "par", "quet",
              "spa", "rk", "da", "gu", "fra", "me", "jo", "in", "ex", "ec")


def split_sizes(total: int) -> dict[str, int]:
    """Issues per project, 60/30/10, summing exactly to ``total``."""
    sizes = [int(total * s) for s in PROJECT_SHARES]
    sizes[0] += total - sum(sizes)
    return dict(zip(PROJECTS, sizes))


def fault_count(pages: int) -> int:
    """Faulted page slots for a listing of ``pages`` pages: about 1%,
    but at least one of each kind so every retry path runs."""
    return max(len(FAULT_KINDS), round(FAULT_RATE * pages))


def restamp_count(n: int) -> int:
    """Issues of a project re-stamped per simulated day."""
    return max(1, round(RESTAMP_RATE * n))


def day_str(day: int) -> str:
    return (DAY0 + dt.timedelta(days=day)).isoformat()


def stamp(day: int, second: int) -> str:
    """Jira's timestamp format for ``second`` seconds into ``day``."""
    h, rem = divmod(int(second), 3600)
    return f"{day_str(day)}T{h:02d}:{rem // 60:02d}:{rem % 60:02d}.000+0000"


def _quantile_schedule(n: int, inverse_cdf, rng: np.random.Generator) -> np.ndarray:
    """``n`` draws whose multiset is fixed (the distribution's n-quantiles)
    and whose order is seeded: per-seed inputs differ, total work does not."""
    u = (np.arange(n) + 0.5) / n
    return rng.permutation(np.array([inverse_cdf(x) for x in u], dtype=np.int64))


def lines_per_text(u: float) -> int:
    """Heavy tail (Pareto, alpha 1.6): most texts have a few lines, a few
    have a hundred."""
    return min(120, int(2 * (1 - u) ** (-1 / 1.6)))


def comments_per_issue(u: float) -> int:
    """0-30 comments, exponential with mean about 3."""
    return min(30, int(-3 * math.log(1 - u)))


def _vocabulary() -> list[str]:
    rng = np.random.default_rng(7)
    words = set()
    while len(words) < 2000:
        k = int(rng.integers(1, 4))
        words.add("".join(_SYLLABLES[int(i)] for i in rng.integers(0, len(_SYLLABLES), k)))
    return sorted(words)


_VOCAB = _vocabulary()
_ZIPF_CDF = np.cumsum(1.0 / np.arange(1, len(_VOCAB) + 1) ** 1.1)
_ZIPF_CDF /= _ZIPF_CDF[-1]


class TextGen:
    """Jira-flavoured text: prose lines, stack-trace blocks, ``{code}``
    markup and CI URLs, in the proportions the caller asks for."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng

    def line(self) -> str:
        n = int(self.rng.integers(4, 14))
        idx = np.searchsorted(_ZIPF_CDF, self.rng.random(n))
        words = [_VOCAB[min(int(i), len(_VOCAB) - 1)] for i in idx]
        end = "?" if self.rng.random() < 0.15 else "."
        return " ".join(words) + end

    def stack_trace(self) -> list[str]:
        rng = self.rng
        exc = _EXCEPTIONS[int(rng.integers(len(_EXCEPTIONS)))]
        out = [f"{exc}: {self.line()}"]
        for _ in range(int(rng.integers(4, 20))):
            w = _VOCAB[int(rng.integers(len(_VOCAB)))]
            out.append(f"\tat org.apache.{w}.Worker.run(Worker.java:{int(rng.integers(10, 900))})")
        if rng.random() < 0.3:
            out.append(f"Caused by: java.io.IOException: {self.line()}")
            out.append(f"\t... {int(rng.integers(3, 40))} more")
        return out

    def text(self, n_lines: int, trace: bool, code: bool, ci_url: bool) -> str:
        lines = [self.line() for _ in range(n_lines)]
        if trace:
            at = int(self.rng.integers(0, n_lines + 1))
            lines[at:at] = self.stack_trace()
        if code:
            lines.append("{code:java}")
            lines.append(f"  val df = spark.read.{_VOCAB[int(self.rng.integers(len(_VOCAB)))]}()")
            lines.append("{code}")
        if ci_url:
            lines.append(f"Build log: https://ci-hadoop.apache.org/job/Spark-{int(self.rng.integers(1, 99))}"
                         f"/{int(self.rng.integers(1, 9999))}/console")
        if self.rng.random() < 0.2:
            lines.append("")  # blank and whitespace-only lines are dropped by clean_text
            lines.append("   \r")
        return "\n".join(lines)


@dataclass
class Issue:
    key: str
    updated: str
    summary: str
    description: str
    fields: dict
    rendered: bytes = b""

    def render(self) -> None:
        self.fields["updated"] = self.updated
        self.fields["description"] = self.description
        self.rendered = json.dumps({"key": self.key, "fields": self.fields},
                                   separators=(",", ":")).encode()


def _seed_of(*parts) -> int:
    h = hashlib.sha256("|".join(map(str, parts)).encode()).digest()
    return int.from_bytes(h[:8], "little")


class Corpus:
    """All issues of all projects, generated from ``seed``; ``advance``
    moves the simulated day and re-stamps a seeded share of issues."""

    def __init__(self, seed: int, total: int):
        self.seed = seed
        self.day = 0
        self.sizes = split_sizes(total)
        self.issues: dict[str, list[Issue]] = {}
        self.by_key: dict[str, Issue] = {}
        self.restamped: dict[int, dict[str, list[str]]] = {}
        for p, n in self.sizes.items():
            self.issues[p] = self._generate(p, n)
            for iss in self.issues[p]:
                self.by_key[iss.key] = iss
        self.fault_slots = self._fault_schedule()
        self._restamp(0)

    def _generate(self, project: str, n: int) -> list[Issue]:
        rng = np.random.default_rng(_seed_of(self.seed, "corpus", project))
        gen = TextGen(rng)
        lines = _quantile_schedule(n, lines_per_text, rng)
        n_comments = _quantile_schedule(n, comments_per_issue, rng)
        # exact shares: 20% stack traces, 15% {code}, 10% CI URLs
        trace = rng.permutation(np.arange(n) < round(0.20 * n))
        code = rng.permutation(np.arange(n) < round(0.15 * n))
        ci = rng.permutation(np.arange(n) < round(0.10 * n))
        # created ascends with the issue number over HISTORY_DAYS days
        # before day 0; every base `updated` is before day 0, so only
        # re-stamped issues carry day >= 0
        created_s = np.sort(rng.integers(0, (HISTORY_DAYS - 1) * 86400, n))
        out = []
        for i in range(n):
            c_day, c_sec = divmod(int(created_s[i]), 86400)
            c_day -= HISTORY_DAYS
            u_day = int(rng.integers(c_day, 0))
            u_sec = int(rng.integers(c_sec if u_day == c_day else 0, 86400))
            created, updated = stamp(c_day, c_sec), stamp(u_day, u_sec)
            comments = [{
                "author": {"displayName": f"user{int(rng.integers(0, 200))}"},
                "body": gen.text(int(rng.integers(1, 5)), rng.random() < 0.1, False, False),
                "created": updated,
            } for _ in range(int(n_comments[i]))]
            if comments and rng.random() < 0.05:
                comments[0] = None  # falsy comment entries occur in real exports
            key = f"{project}-{i + 1}"
            summary = gen.line().rstrip(".?")
            fields = {
                "project": {"key": project},
                "summary": summary,
                "status": {"name": _STATUSES[int(rng.integers(len(_STATUSES)))]},
                "priority": ({"name": _PRIORITIES[int(rng.integers(len(_PRIORITIES)))]}
                             if rng.random() < 0.9 else None),
                "reporter": {"displayName": f"user{int(rng.integers(0, 200))}"},
                "assignee": ({"displayName": f"dev{int(rng.integers(0, 40))}"}
                             if rng.random() < 0.7 else None),
                "issuetype": {"name": _TYPES[int(rng.integers(len(_TYPES)))]},
                "created": created,
                "labels": [_VOCAB[int(j)] for j in rng.integers(0, 50, int(rng.integers(0, 4)))],
                "components": [{"name": f"comp{int(j)}"} for j in rng.integers(0, 12, int(rng.integers(0, 3)))],
                "comment": {"comments": comments},
            }
            iss = Issue(key, updated, summary,
                        gen.text(int(lines[i]), bool(trace[i]), bool(code[i]), bool(ci[i])),
                        fields)
            iss.render()
            out.append(iss)
        return out

    def _fault_schedule(self) -> dict[tuple[str, int], str]:
        """(project, startAt) -> fault kind for the seeded page slots: one
        of each kind in ``WARMUP_PROJECT``, the rest anywhere else."""
        rng = np.random.default_rng(_seed_of(self.seed, "faults"))
        slots = [(p, k * PAGE_SIZE) for p, n in self.sizes.items()
                 for k in range(1, -(-n // PAGE_SIZE))]
        warm = [s for s in slots if s[0] == WARMUP_PROJECT]
        out = {warm[int(j)]: str(kind) for j, kind in
               zip(rng.choice(len(warm), len(FAULT_KINDS), replace=False),
                   rng.permutation(FAULT_KINDS))}
        rest = [s for s in slots if s not in out]
        extra = fault_count(len(slots) + len(self.sizes)) - len(out)
        for r, j in enumerate(rng.choice(len(rest), extra, replace=False)):
            out[rest[int(j)]] = FAULT_KINDS[r % len(FAULT_KINDS)]
        return out

    def _restamp(self, day: int) -> None:
        """Give ``restamp_count`` issues per project an ``updated`` stamp on
        ``day`` and new description text; issues re-stamped the day before
        are skipped, so the delta a date-truncated cutoff re-reads
        (yesterday + today) always holds exactly twice that many."""
        rng = np.random.default_rng(_seed_of(self.seed, "restamp", day))
        gen = TextGen(rng)
        prev = self.restamped.get(day - 1, {})
        self.restamped[day] = {}
        for p, issues in self.issues.items():
            skip = set(prev.get(p, ()))
            candidates = [iss for iss in issues if iss.key not in skip]
            chosen = rng.choice(len(candidates), restamp_count(len(issues)), replace=False)
            keys = []
            for j in sorted(int(c) for c in chosen):
                iss = candidates[j]
                iss.updated = stamp(day, int(rng.integers(0, 86400)))
                iss.description = gen.text(int(rng.integers(1, 12)), rng.random() < 0.2,
                                           rng.random() < 0.15, rng.random() < 0.1)
                iss.render()
                keys.append(iss.key)
            self.restamped[day][p] = keys

    def advance(self) -> int:
        self.day += 1
        self._restamp(self.day)
        return self.day

    def select(self, project: str, cutoff: str | None) -> list[Issue]:
        """The JQL result: one project, ``updated >= cutoff`` (a date),
        ordered by created ascending."""
        issues = self.issues.get(project, [])
        if cutoff is None:
            return issues
        return [iss for iss in issues if iss.updated >= cutoff]


_PROJECT_RE = re.compile(r"project\s*=\s*\"?([A-Za-z0-9_]+)\"?")
_CUTOFF_RE = re.compile(r"updated\s*>=\s*'([^']+)'")


def parse_jql(jql: str) -> tuple[str | None, str | None]:
    p = _PROJECT_RE.search(jql)
    c = _CUTOFF_RE.search(jql)
    return (p.group(1) if p else None), (c.group(1) if c else None)


def page_slice(n_total: int, start_at: int, max_results: int) -> tuple[int, int]:
    """Index range [lo, hi) of one page over a result of ``n_total`` rows."""
    lo = max(0, min(start_at, n_total))
    return lo, max(lo, min(n_total, lo + max(0, max_results)))


@dataclass
class Counters:
    requests: int = 0
    probe_requests: int = 0
    pages_ok: int = 0
    http_429: int = 0
    http_5xx: int = 0
    truncated: int = 0
    bytes_served: int = 0
    inflight: int = 0
    max_inflight: int = 0
    busy_s: float = 0.0
    lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def snapshot(self) -> dict:
        with self.lock:
            d = {k: v for k, v in self.__dict__.items() if k not in ("lock", "inflight")}
        t = os.times()
        d["cpu_s"] = t.user + t.system
        return d


class JiraState:
    """Corpus + fault attempts + counters + page cache, shared by the
    handler threads."""

    def __init__(self, corpus: Corpus):
        self.corpus = corpus
        self.counters = Counters()
        self.attempts: dict[tuple[str, int], int] = {}
        self.pages: dict[tuple, bytes] = {}
        self.lock = threading.Lock()

    def begin_op(self) -> None:
        with self.lock:
            self.attempts.clear()

    def advance(self) -> int:
        with self.lock:
            self.pages.clear()
            return self.corpus.advance()

    def fault_for(self, project: str, start_at: int, max_results: int) -> str | None:
        if max_results <= 1:
            return None
        with self.lock:
            slot = (project, start_at)
            attempt = self.attempts.get(slot, 0)
            self.attempts[slot] = attempt + 1
        kind = self.corpus.fault_slots.get(slot)
        return kind if attempt == 0 else None

    def page(self, project: str, cutoff: str | None, start_at: int, max_results: int) -> bytes:
        ck = (project, cutoff, start_at, max_results)
        with self.lock:
            cached = self.pages.get(ck)
        if cached is not None:
            return cached
        rows = self.corpus.select(project, cutoff)
        lo, hi = page_slice(len(rows), start_at, max_results)
        body = (b'{"startAt":%d,"maxResults":%d,"total":%d,"issues":['
                % (lo, max_results, len(rows))
                + b",".join(iss.rendered for iss in rows[lo:hi]) + b"]}")
        with self.lock:
            self.pages[ck] = body
        return body


class Handler(BaseHTTPRequestHandler):
    state: JiraState  # set on the subclass by make_server

    def log_message(self, fmt, *args) -> None:
        pass

    def _send(self, status: int, body: bytes, ctype="application/json") -> None:
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:
        url = urlparse(self.path)
        q = {k: v[-1] for k, v in parse_qs(url.query).items()}
        if url.path.endswith("/rest/api/latest/search"):
            self._search(q)
        elif url.path.startswith("/_bench/"):
            self._control(url.path[len("/_bench/"):], q)
        else:
            self._send(404, b'{"error":"not found"}')

    def _search(self, q: dict) -> None:
        st, c = self.state, self.state.counters
        t0 = time.perf_counter()
        with c.lock:
            c.requests += 1
            c.inflight += 1
            c.max_inflight = max(c.max_inflight, c.inflight)
        try:
            project, cutoff = parse_jql(q.get("jql", ""))
            start_at, max_results = int(q.get("startAt", 0)), int(q.get("maxResults", 50))
            if max_results <= 1:
                with c.lock:
                    c.probe_requests += 1
            kind = st.fault_for(project or "", start_at, max_results)
            body = st.page(project or "", cutoff, start_at, max_results)
            if kind == "429":
                status, body = 429, b'{"errorMessages":["rate limited"]}'
            elif kind == "503":
                status, body = 503, b"Service Unavailable"
            elif kind == "truncated":
                status, body = 200, body[: len(body) // 2]
            else:
                status = 200
            self._send(status, body)
            with c.lock:
                c.bytes_served += len(body)
                if kind == "429":
                    c.http_429 += 1
                elif kind == "503":
                    c.http_5xx += 1
                elif kind == "truncated":
                    c.truncated += 1
                elif max_results > 1:
                    c.pages_ok += 1
        finally:
            with c.lock:
                c.inflight -= 1
                c.busy_s += time.perf_counter() - t0

    def _control(self, cmd: str, q: dict) -> None:
        st = self.state
        if cmd == "begin":
            st.begin_op()
            out = {"ok": True}
        elif cmd == "advance":
            out = {"day": st.advance()}
        elif cmd == "stats":
            out = st.counters.snapshot()
            out["day"] = st.corpus.day
        elif cmd == "keys":
            rows = st.corpus.select(q["project"], q.get("since") or None)
            out = {"keys": [iss.key for iss in rows]}
        elif cmd == "raw":
            out = {k: {"summary": st.corpus.by_key[k].summary,
                       "description": st.corpus.by_key[k].description}
                   for k in q["keys"].split(",")}
        else:
            self._send(404, b'{"error":"unknown control call"}')
            return
        self._send(200, json.dumps(out).encode())


def make_server(corpus: Corpus, port: int = 0) -> ThreadingHTTPServer:
    handler = type("BoundHandler", (Handler,), {"state": JiraState(corpus)})
    server = ThreadingHTTPServer(("127.0.0.1", port), handler)
    server.daemon_threads = True
    return server


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--issues", type=int, required=True)
    ap.add_argument("--port", type=int, default=0)
    args = ap.parse_args(argv)
    server = make_server(Corpus(args.seed, args.issues), args.port)
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever()
    finally:
        server.server_close()


if __name__ == "__main__":
    sys.exit(main())
