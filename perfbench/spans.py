"""Layer spans for the traced benchmark run (``--trace 1``).

The tracer wraps the entry points the engine calls into each layer, from
the benchmark's side only; the program itself is not edited:

  engine.load     CrawlEngine.start(resume=False) / start_from_frontier
  icelite.resume  CrawlEngine.start(resume=True)
  engine.round    CrawlEngine.run_round
  schedule        CrawlEngine._pending_for_schedule and _mat("sched")
  fetch           CrawlEngine._mat("routed" / "routed_miss")
  admission       operators.admission.admit
  engine.deltas.wait  the join() of CrawlEngine._append_state_deltas_async
  icelite.commit  IceliteCatalog.commit
  query.<name>    one query call (opened by the workload)

Schedule and fetch work is lazy and runs inside the engine's materialize
step, so it is attributed by the name the engine passes to ``_mat``.

Each span sets the Spark job group of the driver thread, so every job the
thread submits carries the span's id. The status store (which works with
the UI off) gives each job's group and submit/complete times. Background
state-delta writes run on engine-owned threads and carry no group; they
count as ``engine.deltas`` jobs. A span's self time is its duration minus
the union of its child spans' intervals. Spans stay in memory and are
written out once, at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq

GROUP_KEY = "spark.jobGroup.id"
OWN_GROUP = "pb-trace"  # jobs the tracer itself runs (excluded)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float  # epoch ms, comparable with the status store's job times
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)


@dataclass
class Job:
    jid: int
    group: str | None
    t0: float
    t1: float


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.overhead_s = 0.0  # time the tracer spent on its own bookkeeping
        self.own: list[tuple[float, float]] = []  # its intervals, epoch ms
        self._undo: list = []
        self.jobs: list[Job] = []

    # -- spans ------------------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty(GROUP_KEY, group)

    def _restore_group(self) -> None:
        self._set_group(f"pb{self.stack[-1].sid}" if self.stack else None)

    @contextmanager
    def span(self, name: str, **attrs):
        sp = Span(
            len(self.spans), name, self.stack[-1].sid if self.stack else None,
            time.time() * 1000.0, attrs=dict(attrs),
        )
        self.spans.append(sp)
        self.stack.append(sp)
        self._set_group(f"pb{sp.sid}")
        try:
            yield sp
        finally:
            sp.t1 = time.time() * 1000.0
            self.stack.pop()
            self._restore_group()

    def current(self, name: str) -> Span | None:
        for sp in reversed(self.stack):
            if sp.name == name:
                return sp
        return None

    @contextmanager
    def own_work(self):
        """Bookkeeping the tracer adds: its time and jobs are overhead."""
        t = time.time() * 1000.0
        self._set_group(OWN_GROUP)
        try:
            yield
        finally:
            self._restore_group()
            t1 = time.time() * 1000.0
            self.own.append((t, t1))
            self.overhead_s += (t1 - t) / 1000.0

    # -- layer wrappers ---------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from crawlspark import engine as ENG
        from crawlspark.icelite import table as ICE
        from crawlspark.operators import admission as ADM

        tr = self
        E = ENG.CrawlEngine

        def start(orig):
            def wrapped(eng, resume=False):
                with tr.span("icelite.resume" if resume else "engine.load"):
                    return orig(eng, resume)
            return wrapped

        def start_from_frontier(orig):
            def wrapped(eng, *a, **kw):
                with tr.span("engine.load"):
                    return orig(eng, *a, **kw)
            return wrapped

        def run_round(orig):
            def wrapped(eng):
                with tr.span("engine.round") as sp:
                    ok = orig(eng)
                if ok and eng.stats.rounds:
                    sp.attrs["round_no"] = eng.stats.rounds[-1].round_no
                return ok
            return wrapped

        def pending_for_schedule(orig):
            def wrapped(eng):
                with tr.span("schedule") as sp:
                    frame, scan = orig(eng)
                with tr.own_work():
                    # no telemetry means the full frontier was scanned
                    sp.attrs["rows_read"] = (
                        scan["base_rows_scanned"] if scan else sum(
                            _rows(p) for p in eng._state_parts.get("pending", [])
                        )
                    )
                return frame, scan
            return wrapped

        def mat(orig):
            def wrapped(eng, df, name, single=False):
                layer = (
                    "schedule" if name == "sched"
                    else "fetch" if name in ("routed", "routed_miss")
                    else None
                )
                if layer is None:
                    out = orig(eng, df, name, single)
                else:
                    with tr.span(layer) as sp:
                        out = orig(eng, df, name, single)
                    if name == "routed":
                        with tr.own_work():
                            sp.attrs["hits"] = _rows(out._crawlspark_path)
                adm = tr.current("admission")
                if adm is not None and name.startswith(("adm_rows", "adm_rules")):
                    with tr.own_work():
                        if name.startswith("adm_rows"):
                            adm.attrs["admitted"] += _rows(out._crawlspark_path)
                        else:
                            adm.attrs["domains"] |= _domains(out._crawlspark_path)
                return out
            return wrapped

        def deltas_async(orig):
            def wrapped(eng, items):
                join = orig(eng, items)

                def timed_join():
                    with tr.span("engine.deltas.wait"):
                        return join()

                timed_join.paths = join.paths
                return timed_join
            return wrapped

        def admit(orig):
            def wrapped(spark, candidates, *a, **kw):
                with tr.own_work():
                    n_cand = candidates.count()
                with tr.span(
                    "admission", candidates=n_cand, admitted=0, domains=set()
                ) as sp:
                    res = orig(spark, candidates, *a, **kw)
                sp.attrs["domains_probed"] = len(sp.attrs.pop("domains"))
                return res
            return wrapped

        def commit(orig):
            def wrapped(cat, *a, **kw):
                with tr.span("icelite.commit") as sp:
                    snap = orig(cat, *a, **kw)
                sp.attrs["files"] = sum(
                    len(t.get("files", [])) for t in snap.tables.values()
                )
                return snap
            return wrapped

        self._patch(E, "start", start)
        self._patch(E, "start_from_frontier", start_from_frontier)
        self._patch(E, "run_round", run_round)
        self._patch(E, "_pending_for_schedule", pending_for_schedule)
        self._patch(E, "_mat", mat)
        self._patch(E, "_append_state_deltas_async", deltas_async)
        self._patch(ADM, "admit", admit)
        self._patch(ICE.IceliteCatalog, "commit", commit)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- jobs -------------------------------------------------------------
    def collect_jobs(self) -> None:
        """Read every job's group and submit/complete time from the status
        store (kept in full: the session raises spark.ui.retainedJobs)."""
        t = time.monotonic()
        store = self.sc._jsc.sc().statusStore()
        seq = store.jobsList(None)
        jobs = []
        for i in range(seq.size()):
            j = seq.apply(i)
            st, ct, grp = j.submissionTime(), j.completionTime(), j.jobGroup()
            if not st.isDefined():
                continue
            t0 = float(st.get().getTime())
            t1 = float(ct.get().getTime()) if ct.isDefined() else t0
            jobs.append(Job(j.jobId(), grp.get() if grp.isDefined() else None, t0, t1))
        self.jobs = sorted(jobs, key=lambda j: j.jid)
        self.overhead_s += time.monotonic() - t

    # -- aggregation ------------------------------------------------------
    def _descendants(self) -> dict[int, set[int]]:
        kids: dict[int, list[int]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp.sid)
        out: dict[int, set[int]] = {}
        for sp in reversed(self.spans):  # children always follow parents
            s = {sp.sid}
            for k in kids.get(sp.sid, []):
                s |= out[k]
            out[sp.sid] = s
        return out

    def layer_metrics(self, rounds: list[int], passes: list[int],
                      queries: tuple[str, ...]) -> dict:
        """Per-layer numbers. ``rounds`` / ``passes`` are the span ids of the
        measured crawl rounds / query passes; round-scoped layers report
        per-round means, query layers per-pass means, ``engine.load`` and
        ``icelite.resume`` their whole (inclusive) span."""
        desc = self._descendants()
        by_group: dict[int, list[Job]] = {}
        background: list[Job] = []
        for j in self.jobs:
            if j.group is None:
                background.append(j)
            elif j.group.startswith("pb") and j.group[2:].isdigit():
                by_group.setdefault(int(j.group[2:]), []).append(j)

        def jobs_in(sid: int) -> list[Job]:
            return [j for s in desc[sid] for j in by_group.get(s, [])]

        def bg_in(sp: Span) -> list[Job]:
            return [j for j in background if sp.t0 <= j.t0 <= sp.t1]

        # the tracer's own work inside a span is not the layer's time
        def self_ms(sp: Span) -> float:
            kids = [(c.t0, c.t1) for c in self.spans if c.parent == sp.sid]
            return (sp.t1 - sp.t0) - union_ms(kids + self.own, sp.t0, sp.t1)

        def whole_ms(sp: Span) -> float:
            return (sp.t1 - sp.t0) - union_ms(self.own, sp.t0, sp.t1)

        m: dict[str, float] = {}
        inside = set().union(*(desc[r] for r in rounds)) if rounds else set()
        n = max(len(rounds), 1)

        def layer(name: str) -> list[Span]:
            return [sp for sp in self.spans if sp.name == name and sp.sid in inside]

        round_jobs, idle = 0, 0.0
        for r in rounds:
            sp = self.spans[r]
            js = jobs_in(r) + bg_in(sp)
            round_jobs += len(js)
            busy = [(j.t0, j.t1) for j in js] + self.own
            idle += (sp.t1 - sp.t0) - union_ms(busy, sp.t0, sp.t1)
        m["engine.round.jobs"] = round_jobs / n
        m["engine.round.idle_s"] = idle / 1000.0 / n
        m["schedule.rows_read"] = sum(
            sp.attrs.get("rows_read", 0) for sp in layer("schedule")
        ) / n
        for key, name in (
            ("schedule", "schedule"), ("fetch", "fetch"),
            ("admission", "admission"),
        ):
            sps = layer(name)
            # nested spans of one layer (a _mat("sched") inside no other
            # schedule span) are disjoint, so sums do not double count
            top = [sp for sp in sps if self.spans[sp.parent].name != name]
            m[f"{key}.s"] = sum(self_ms(sp) for sp in top) / 1000.0 / n
            m[f"{key}.jobs"] = sum(len(jobs_in(sp.sid)) for sp in top) / n
        m["fetch.hits"] = sum(sp.attrs.get("hits", 0) for sp in layer("fetch")) / n
        adm = layer("admission")
        cand = sum(sp.attrs["candidates"] for sp in adm)
        admitted = sum(sp.attrs["admitted"] for sp in adm)
        m["admission.candidates"] = cand / n
        m["admission.admitted"] = admitted / n
        m["admission.yield"] = admitted / cand if cand else 0.0
        m["admission.domains_probed"] = sum(
            sp.attrs["domains_probed"] for sp in adm
        ) / n
        waits = layer("engine.deltas.wait")
        m["engine.deltas.wait_s"] = sum(self_ms(sp) for sp in waits) / 1000.0 / n
        m["engine.deltas.jobs"] = sum(
            len(bg_in(self.spans[r])) for r in rounds
        ) / n
        commits = [sp for sp in self.spans if sp.name == "icelite.commit"]
        nc = max(len(commits), 1)
        m["icelite.commit.s"] = sum(self_ms(sp) for sp in commits) / 1000.0 / nc
        m["icelite.commit.jobs"] = sum(len(jobs_in(sp.sid)) for sp in commits) / nc
        m["icelite.files"] = float(commits[-1].attrs["files"]) if commits else 0.0
        for key in ("engine.load", "icelite.resume"):
            sps = [sp for sp in self.spans if sp.name == key]
            m[f"{key}.s"] = sum(whole_ms(sp) for sp in sps) / 1000.0
            if key == "engine.load":
                m[f"{key}.jobs"] = float(
                    sum(len(jobs_in(sp.sid)) + len(bg_in(sp)) for sp in sps)
                )
        inside_p = set().union(*(desc[p] for p in passes)) if passes else set()
        npass = max(len(passes), 1)
        for q in queries:
            sps = [sp for sp in self.spans
                   if sp.name == f"query.{q}" and sp.sid in inside_p]
            m[f"query.{q}.s"] = sum(whole_ms(sp) for sp in sps) / 1000.0 / npass
            m[f"query.{q}.jobs"] = sum(len(jobs_in(sp.sid)) for sp in sps) / npass
        m["trace.overhead_s"] = self.overhead_s
        return m

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [sp.__dict__ for sp in self.spans],
                    "jobs": [j.__dict__ for j in self.jobs],
                },
                f,
                default=list,
            )


def _rows(path: str) -> int:
    import os

    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def _domains(path: str) -> set:
    return set(pq.read_table(path, columns=["registered_domain"]).column(0).to_pylist())
