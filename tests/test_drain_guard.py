"""Static guards over the library source (no Spark needed).

- Every availableNow drain goes through streaming/drain.py, so the
  streaming query lifecycle (trigger, checkpoint, awaitTermination)
  lives in one place and entry points only supply a source and a sink.
- No code flips `spark.sql.sources.partitionOverwriteMode` session-wide:
  a writer that needs dynamic partition overwrite passes it per write
  (`.option("partitionOverwriteMode", "dynamic")`), so one operator
  cannot change how a later, unrelated `mode("overwrite")` behaves.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "classic_fcd_spark"
DRAIN = PKG / "streaming" / "drain.py"


def _hits(pattern: str, skip: tuple[pathlib.Path, ...] = ()) -> list[str]:
    rx = re.compile(pattern)
    out = []
    for path in sorted(PKG.rglob("*.py")):
        if path in skip:
            continue
        text = path.read_text()
        for m in rx.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            out.append(f"{path.relative_to(PKG.parent)}:{line}")
    return out


class TestDrainGuard:
    def test_available_now_trigger_only_in_drain(self):
        assert _hits(r"availableNow\s*=\s*True", skip=(DRAIN,)) == []

    def test_await_termination_only_in_drain(self):
        assert _hits(r"\.awaitTermination\(", skip=(DRAIN,)) == []

    def test_scan_sees_the_drain(self):
        # guards the guard: a broken path or pattern would pass vacuously
        assert _hits(r"availableNow\s*=\s*True")
        assert _hits(r"\.awaitTermination\(")


class TestConfGuard:
    def test_no_session_wide_partition_overwrite_mode(self):
        pattern = r"conf\.set\(\s*[\"']spark\.sql\.sources\.partitionOverwriteMode"
        assert _hits(pattern) == []
