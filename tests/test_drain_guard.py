"""Static guards over the library source (no Spark needed).

- Every availableNow drain goes through streaming/drain.py, so the
  streaming query lifecycle (trigger, checkpoint, awaitTermination)
  lives in one place and entry points only supply a source and a sink.
- Session conf is set in one place, session.py: no reader, writer or
  operator changes the shared session's conf as a side effect, so what a
  query reads and how a write overwrites cannot depend on what ran
  before it.  A writer that needs dynamic partition overwrite passes it
  per write (`.option("partitionOverwriteMode", "dynamic")`).
- Every cache is keyed through the session registry in session.py, on
  the session UUID: nothing keys on `id(spark)` (reusable after GC) or
  on `applicationId` (shared by every `newSession()` of one context).
- Every parquet table commit goes through sources/promote.py: no other
  module stages a `__tmp` tree, promotes partitions or heals a table,
  so the crash-safe commit and heal-on-read exist once.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "classic_fcd_spark"
DRAIN = PKG / "streaming" / "drain.py"
SESSION = PKG / "session.py"
PROMOTE = PKG / "sources" / "promote.py"


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
    CONF_SET = r"\.conf\.set\("

    def test_no_session_wide_partition_overwrite_mode(self):
        pattern = r"conf\.set\(\s*[\"']spark\.sql\.sources\.partitionOverwriteMode"
        assert _hits(pattern) == []

    def test_conf_set_only_in_session(self):
        assert _hits(self.CONF_SET, skip=(SESSION,)) == []

    def test_scan_sees_the_conf_set(self):
        # guards the guard: the pattern matches the form it forbids, and
        # the scan reaches the one place session conf is set
        assert re.search(self.CONF_SET, 'spark.conf.set("k", "v")')
        assert _hits(self.CONF_SET)


class TestCacheGuard:
    ID_SPARK = r"\bid\(\s*spark\s*\)"
    APP_ID = r"\bapplicationId\b"

    def test_no_cache_keyed_on_spark_object_id(self):
        assert _hits(self.ID_SPARK) == []

    def test_no_cache_keyed_on_application_id(self):
        assert _hits(self.APP_ID) == []

    def test_session_uuid_only_in_session_registry(self):
        assert _hits(r"sessionUUID", skip=(SESSION,)) == []

    def test_scan_sees_the_registry(self):
        # guards the guard: the patterns match the forms they forbid, and
        # the scan reaches the one place the session UUID is read
        assert re.search(self.ID_SPARK, "key = (id(spark), sf_dir)")
        assert re.search(self.APP_ID, "spark.sparkContext.applicationId")
        assert _hits(r"sessionUUID")


class TestCommitGuard:
    PATTERNS = (r"\bpromote_partitions\(", r"\bheal_table\(", r"__tmp\b")

    def test_commit_only_in_promote(self):
        for pattern in self.PATTERNS:
            assert _hits(pattern, skip=(PROMOTE,)) == [], pattern

    def test_scan_sees_the_commit(self):
        # guards the guard: each pattern matches the form it forbids, and
        # the scan reaches the one module that stages, promotes and heals
        forms = ("promote_partitions(tmp, d, c, v)", "heal_table(path)", 'd + "__tmp"')
        for pattern, form in zip(self.PATTERNS, forms):
            assert re.search(pattern, form)
            files = {h.rsplit(":", 1)[0] for h in _hits(pattern)}
            assert files == {"classic_fcd_spark/sources/promote.py"}, pattern
