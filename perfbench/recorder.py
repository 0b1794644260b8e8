"""Layer calls: job group, forcing, timing, checking and (traced) counters.

Every call into a layer's public function goes through ``Recorder.call``:

* its jobs run under their own Spark job group (``p<pass>-<n>-<layer>.<fn>``),
  restored to the enclosing call's group afterwards, so nested calls (a
  checkpointed stage that runs extract and match inside it) keep their
  jobs apart;
* its output is forced through an all-column ``xxhash64`` checksum and
  compared with the expected (rows, checksum) for that call, and with any
  row count the workload states up front; a mismatch or an exception is a
  failed call;
* in a traced pass it records a span (name, start, end, parent, pass id)
  and reads the call's counters from the status store and from the
  executed plan of the forced frame.

Spans and counters stay in memory until the run writes them out.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from . import sparkprobe


class CallFailed(RuntimeError):
    """A layer call raised or returned the wrong rows; the pass stops."""


@dataclass
class Call:
    key: str
    layer: str
    fn: str
    pass_id: int
    span_id: int
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    probed: float = 0.0  # end of the counter reads that follow a traced call
    rows: int | None = None
    checksum: str | None = None
    ok: bool = True
    error: str | None = None
    traced: bool = False
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self, spark: SparkSession, expected: dict | None = None):
        self.spark = spark
        # call key -> (rows, checksum): the first pass that makes a call
        # (the reference pass) fills it, every later pass must match it
        self.expected = {} if expected is None else expected
        self.calls: list[Call] = []
        self.pass_id = -1
        self.traced = False
        self._stack: list[Call] = []
        self._claimed: set = set()

    def begin_pass(self, pass_id: int, traced: bool) -> None:
        self.pass_id = pass_id
        self.traced = traced
        self._claimed = set()

    def pass_calls(self, pass_id: int) -> list[Call]:
        return [c for c in self.calls if c.pass_id == pass_id]

    def call(
        self,
        layer: str,
        fn: str,
        thunk,
        force: bool = True,
        expect_rows: int | None = None,
        scan_marker: str | None = None,
    ):
        """Run ``thunk()`` as one call of ``layer.fn`` and return its result."""
        sc = self.spark.sparkContext
        key = f"{layer}.{fn}"
        parent = self._stack[-1] if self._stack else None
        c = Call(
            key=key,
            layer=layer,
            fn=fn,
            pass_id=self.pass_id,
            span_id=len(self.calls),
            parent=parent.span_id if parent else None,
            group=f"p{self.pass_id}-{len(self.calls)}-{key}",
            traced=self.traced,
        )
        self.calls.append(c)
        self._stack.append(c)
        sc.setJobGroup(c.group, key)
        forced = None
        result = None
        c.start = time.perf_counter()
        try:
            result = thunk()
            if force:
                c.rows, c.checksum, forced = sparkprobe.force(result)
        except Exception as e:  # a failed call is a measured outcome, not a crash
            c.ok, c.error = False, f"{type(e).__name__}: {str(e)[:500]}"
        finally:
            c.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.key)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        if c.ok:
            self._check(c, expect_rows)
        if self.traced:
            sparkprobe.drain(self.spark)
            c.counters = sparkprobe.group_counters(self.spark, c.group)
            if forced is not None:
                c.counters.update(
                    sparkprobe.plan_counters(self.spark, forced, self._claimed, scan_marker)
                )
        c.probed = time.perf_counter()
        if not c.ok:
            raise CallFailed(f"{c.key}: {c.error}")
        return result

    def _check(self, c: Call, expect_rows: int | None) -> None:
        if expect_rows is not None and c.rows is not None and c.rows != expect_rows:
            c.ok, c.error = False, f"rows {c.rows} != stated {expect_rows}"
            return
        if c.rows is None:
            return
        want = self.expected.get(c.key)
        if want is None:
            self.expected[c.key] = (c.rows, c.checksum)
        elif want != (c.rows, c.checksum):
            c.ok, c.error = False, f"got {(c.rows, c.checksum)} expected {want}"

    def fail(self, key: str, error: str) -> None:
        """Record a failed check made outside a call (e.g. an oracle diff)."""
        c = Call(
            key=key, layer=key.split(".")[0], fn=key.split(".", 1)[-1],
            pass_id=self.pass_id, span_id=len(self.calls), parent=None, group="",
        )
        c.ok, c.error = False, error
        self.calls.append(c)

    def self_seconds(self, c: Call) -> float:
        """Span duration minus the time its child spans (and the counter
        reads after each child) cover."""
        kids = [k for k in self.calls if k.parent == c.span_id and k.pass_id == c.pass_id]
        covered = 0.0
        last = c.start
        for k in sorted(kids, key=lambda k: k.start):
            s, e = max(k.start, last), min(k.probed, c.end)
            if e > s:
                covered += e - s
                last = e
        return c.seconds - covered
