"""Round-7 fixes for the round-6 ADVICE.md findings.

- FileSet.to_local_dir zip-slip containment (byoa.py)
- server job/cubegen id allocation under a lock (server.py)
- simhash 21-bit SWAR lane overflow now enforced (dedup.py)
"""

from __future__ import annotations

import os
import zipfile

import pytest

from xcube_spark.pipeline.byoa import FileSet


def test_fileset_zip_slip_rejected(tmp_path):
    """A zip member named ``../evil.py`` must not extract outside the
    target dir (ADVICE r6 medium: manual join replaced zf.extract's
    sanitization)."""
    zpath = str(tmp_path / "evil.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("ok.py", "x = 1\n")
        zf.writestr("../evil.py", "x = 2\n")
    fs = FileSet(zpath)
    out_dir = tmp_path / "out"
    out_dir.mkdir()
    with pytest.raises(ValueError, match="escapes"):
        fs.to_local_dir(str(out_dir))
    # nothing escaped next to the target dir
    assert not (tmp_path / "evil.py").exists()


def test_fileset_contained_dst_accepts_nested():
    d = FileSet._contained_dst("/tmp/x", "a/b/c.py")
    assert d.endswith(os.path.join("a", "b", "c.py"))
    with pytest.raises(ValueError):
        FileSet._contained_dst("/tmp/x", "../../etc/passwd")


def test_simhash_lane_overflow_raises(spark):
    """A document with >= 2^21 token occurrences must fail loudly, not
    silently bleed votes into the neighboring SWAR lane."""
    from pyspark.sql import functions as F

    from xcube_spark.pipeline.dedup import simhash

    big = " ".join(["tok"] * 8)  # well under the lane bound: fine
    docs = spark.createDataFrame([(1, big)], ["doc_id", "text"])
    assert simhash(docs).count() == 1

    n = (1 << 21)  # 2_097_152 occurrences: one past the lane bound
    # build the oversized doc executor-side (repeat), not as a literal
    over = spark.range(1).select(
        F.lit(7).alias("doc_id"),
        F.expr(f"trim(repeat('tok ', {n}))").alias("text"))
    with pytest.raises(Exception) as ei:
        simhash(over).collect()
    assert "SWAR" in str(ei.value) or "21-bit" in str(ei.value) \
        or "token occurrences" in str(ei.value)


def test_server_job_seq_is_locked():
    import inspect

    import xcube_spark.server as server
    src = inspect.getsource(server)
    assert "_job_seq_lock" in src
    # both allocation sites go through the lock
    assert src.count("with self._job_seq_lock:") >= 2
