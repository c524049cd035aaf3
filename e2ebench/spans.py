"""Spans around layer calls, attributed to Spark's own metrics.

A span records its name, start, end, parent and operation id. In a
traced run each span also sets the Spark job group to its id, so the
status store's job and stage metrics attribute to spans; they are read
over the UI's REST API on localhost once the run is over. Spans stay in
memory until then. In an untraced run a span is a no-op.

Spans wrap actions (count, collect, write): a span around a lazy call
would time only planning.
"""

from __future__ import annotations

import itertools
import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    op: int | None
    phase: str
    start: float = 0.0
    end: float = 0.0
    plans: list = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def wall(self) -> float:
        return self.end - self.start

    def plan(self, df) -> None:
        """Keep ``df`` for the codegen census after the run."""
        self.plans.append(df)


class _NoSpan:
    def plan(self, df) -> None:
        pass


_NO_SPAN = _NoSpan()


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.phase = "setup"
        self.op: int | None = None
        self._stack: list[Span] = []
        self._ids = itertools.count()
        #: seconds spent in span bookkeeping and job-group calls
        self.overhead = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield _NO_SPAN
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            sid=f"span-{next(self._ids)}", name=name,
            parent=parent.sid if parent else None, op=self.op,
            phase=self.phase,
        )
        self._stack.append(sp)
        sc.setJobGroup(sp.sid, name)
        sp.start = time.perf_counter()
        self.overhead += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.sid, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)
            self.overhead += time.perf_counter() - sp.end

    # ------------------------------------------------------------------
    # analysis after the run
    # ------------------------------------------------------------------

    def measured(self) -> list[Span]:
        return [s for s in self.spans if s.phase == "measure"]

    def self_times(self) -> dict[str, float]:
        """Span name -> summed self time (span minus child spans) over
        the measured phase."""
        spans = self.measured()
        child = {}
        for s in spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.wall
        out: dict[str, float] = {}
        for s in spans:
            out[s.name] = out.get(s.name, 0.0) + s.wall - child.get(s.sid, 0)
        return out

    def codegen(self) -> dict[str, dict]:
        """Layer -> codegen census of every plan its measured spans
        kept: whole-stage subtrees, the largest generated method, and
        the subtrees whose largest method exceeds hugeMethodLimit (they
        run without whole-stage codegen).

        Plans are re-planned with adaptive execution off: an adaptive
        plan inserts its codegen stages only while it runs, so before
        that it has none to count. Each span name is counted once (its
        first measured operation): every operation runs the same plan
        shapes, so the census repeats exactly from run to run."""
        conf = self.spark.conf
        limit = int(conf.get("spark.sql.codegen.hugeMethodLimit"))
        debug = getattr(
            self.spark._jvm.org.apache.spark.sql.execution.debug, "package"
        )
        out: dict[str, dict] = {}
        seen: set[str] = set()
        aqe = conf.get("spark.sql.adaptive.enabled")
        conf.set("spark.sql.adaptive.enabled", "false")
        try:
            for s in self.measured():
                if not s.plans or s.name in seen:
                    continue
                seen.add(s.name)
                c = out.setdefault(
                    s.layer, {"subtrees": 0, "over_limit": 0, "max_bytes": 0}
                )
                for df in s.plans:
                    plan = df.select("*")._jdf.queryExecution().executedPlan()
                    seq = debug.codegenStringSeq(plan)
                    for i in range(seq.size()):
                        size = int(seq.apply(i)._3().maxMethodCodeSize())
                        c["subtrees"] += 1
                        c["over_limit"] += size > limit
                        c["max_bytes"] = max(c["max_bytes"], size)
        finally:
            conf.set("spark.sql.adaptive.enabled", aqe)
        return out


class StatusStore:
    """Reads the status store over the UI's REST API (localhost)."""

    def __init__(self, spark):
        self.base = spark.sparkContext.uiWebUrl.rstrip("/") + "/api/v1"
        self.app = spark.sparkContext.applicationId

    def _get(self, path: str):
        with urllib.request.urlopen(
            f"{self.base}/applications/{self.app}/{path}", timeout=30
        ) as r:
            return json.loads(r.read().decode())

    def settle(self, timeout: float = 20.0) -> None:
        """Wait until the listener, which runs asynchronously, has
        recorded every job and stage as finished."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if all(j["status"] != "RUNNING" for j in self._get("jobs")) and all(
                s["status"] != "ACTIVE" for s in self._get("stages")
            ):
                return
            time.sleep(0.2)

    def jobs(self) -> list[dict]:
        return self._get("jobs")

    def stages(self) -> list[dict]:
        return self._get("stages?details=false")

    def sql(self) -> list[dict]:
        return self._get("sql?details=true&planDescription=false&length=100000")
