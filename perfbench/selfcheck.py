"""Self-checks for the benchmark's own helpers. Run from the repository
root: ``python3 perfbench/selfcheck.py`` (exits non-zero on a failure).

* the generator gives byte-identical files for one seed, and different
  files for another;
* span self time is duration minus the union of child intervals;
* the event-log parser rolls a tiny captured log (``testdata/``) up per
  job group.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.getcwd(), HERE]

import eventlog  # noqa: E402
import gen  # noqa: E402
from spans import Span, self_times  # noqa: E402


def _digests(seed: int, where: str) -> dict[str, str]:
    out = os.path.join(where, str(seed))
    gen.write(seed, out)
    return {f: hashlib.sha256(open(os.path.join(out, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(out))}


def check_generator() -> None:
    with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
        first, again, other = _digests(5, a), _digests(5, b), _digests(6, a)
    assert first == again, "same seed gave different files"
    assert sorted(first) == sorted(f"{t}.parquet" for t in gen.TABLES)
    assert all(first[f] != other[f] for f in first if f not in
               ("region.parquet", "nation.parquet")), "seed did not change the data"
    _, filters = gen.build(5)
    assert filters == gen.build(5)[1]


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", "", 0, start, end, parent, "main")


def check_self_times() -> None:
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, 0),   # children 1 and 2 overlap: union is 1..6
        _span(2, 3.0, 6.0, 0),
        _span(3, 8.0, 12.0, 0),  # clipped to the parent: covers 8..10
        _span(4, 2.0, 3.0, 1),
        _span(5, 20.0, 21.0),    # a root with no children
    ]
    got = self_times(spans)
    want = {0: 10.0 - 5.0 - 2.0, 1: 3.0 - 1.0, 2: 3.0, 3: 4.0, 4: 1.0, 5: 1.0}
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-9, (k, got[k], v)


def check_eventlog() -> None:
    """``testdata/tiny_eventlog.json`` is a real Spark 4.1 event log, cut
    down to the events and fields the parser reads: one ungrouped job
    (write 1000 rows as 4 parquet files through a shuffle), one
    ``sink.write_table`` group (listing job + noop write of those files)
    and one closure group (an aggregation collected twice; the second job
    reuses the first one's shuffle)."""
    log = eventlog.parse_file(os.path.join(HERE, "testdata", "tiny_eventlog.json"))
    groups = eventlog.rollup(log)
    assert set(groups) == {"", "1|sink.write_table|t", "1|propagation.self_ref_closure|"}
    sink = groups["1|sink.write_table|t"]
    assert (sink["jobs"], sink["stages"], sink["tasks"]) == (2, 2, 5), sink
    assert sink["read_rows"] == 1000 and sink["read_bytes"] > 0, sink
    assert sink["shuffle_write_bytes"] == 0, sink
    closure = groups["1|propagation.self_ref_closure|"]
    assert (closure["jobs"], closure["stages"], closure["tasks"]) == (2, 3, 12), closure
    assert closure["shuffle_write_bytes"] > 0, closure
    assert groups[""]["jobs"] == 1 and groups[""]["stages"] == 2, groups[""]
    for g in groups.values():
        assert g["executor_run_s"] > 0 and g["executor_cpu_s"] > 0, g
        assert g["task_skew"] >= 1.0 and g["spill_bytes"] == 0, g
    only = eventlog.rollup(log, keep=lambda g: g.startswith("1|"))
    assert set(only) == set(groups) - {""}


def main() -> int:
    failures = 0
    for check in (check_generator, check_self_times, check_eventlog):
        try:
            check()
            print(f"ok   {check.__name__}")
        except AssertionError as exc:
            failures += 1
            print(f"FAIL {check.__name__}: {exc}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
