"""The demo publishers must build their tmp dirs on the DESTINATION
filesystem (``queries._DEMO_ROOT``), never under ``tempfile.tempdir``:
with a cross-device TMPDIR the publish ``os.rename`` raises EXDEV, and a
publisher that both built under TMPDIR and swallowed the OSError would
silently discard the freshly built artifact and return a nonexistent
path. Pin (a) TMPDIR is ignored, (b) a failed rename that did NOT
lose a race re-raises instead of being swallowed, and (c) a fresh
build a concurrent process published meanwhile is reused, never
deleted."""

from __future__ import annotations

import os
import tempfile

import sparkcrawler.queries as A


def test_outdeg_publisher_ignores_tmpdir(monkeypatch, tmp_path):
    fake_tmp = tmp_path / "cross_device_tmp"
    fake_tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(fake_tmp))
    monkeypatch.setattr(
        A, "_OUTDEG_DIR", f"{A._DEMO_ROOT}/outdeg_test_exdev"
    )
    try:
        out = A._outdegree_expected_dir()
        assert os.path.exists(os.path.join(out, "_READY"))
        # nothing was ever created under the patched TMPDIR
        assert list(fake_tmp.iterdir()) == []
    finally:
        import shutil

        shutil.rmtree(f"{A._DEMO_ROOT}/outdeg_test_exdev", ignore_errors=True)


def test_demo_crawl_publisher_ignores_tmpdir(spark, monkeypatch, tmp_path):
    fake_tmp = tmp_path / "cross_device_tmp"
    fake_tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(fake_tmp))
    base = f"{A._DEMO_ROOT}/crawl_test_exdev"
    monkeypatch.setattr(A, "DEMO_DIR", base)
    monkeypatch.setattr(A, "_DEMO_CRAWL", f"{base}/crawl")
    monkeypatch.setattr(A, "_DEMO_CORPUS", f"{base}/corpus")
    try:
        out = A._demo_crawl_dir(spark)
        assert os.path.exists(os.path.join(base, "_READY"))
        assert os.path.isdir(out)
        assert list(fake_tmp.iterdir()) == []
    finally:
        import shutil

        shutil.rmtree(base, ignore_errors=True)


def test_failed_publish_rename_reraises(monkeypatch):
    """A rename that fails when nobody else won the race must surface
    the real error, not be misread as 'lost the race'."""
    import pytest

    monkeypatch.setattr(
        A, "_OUTDEG_DIR", f"{A._DEMO_ROOT}/outdeg_test_exdev2"
    )
    real_rename = os.rename

    def exdev_rename(src, dst):
        raise OSError(18, "Invalid cross-device link")

    monkeypatch.setattr(os, "rename", exdev_rename)
    try:
        with pytest.raises(OSError, match="cross-device"):
            A._outdegree_expected_dir()
    finally:
        monkeypatch.setattr(os, "rename", real_rename)
        import shutil

        shutil.rmtree(f"{A._DEMO_ROOT}/outdeg_test_exdev2", ignore_errors=True)


def test_fresh_concurrent_publish_is_not_deleted(monkeypatch):
    """A concurrent process publishes a FRESH outdeg dir while this one
    builds: the publisher must keep it (a reader may hold its file
    listing), drop its own build, and return the published path."""
    import shutil

    dest = f"{A._DEMO_ROOT}/outdeg_test_race"
    shutil.rmtree(dest, ignore_errors=True)
    monkeypatch.setattr(A, "_OUTDEG_DIR", dest)
    real_mkdtemp = tempfile.mkdtemp
    builds = []

    def mkdtemp_then_concurrent_publish(*args, **kwargs):
        tmp = real_mkdtemp(*args, **kwargs)
        builds.append(tmp)
        os.makedirs(dest, exist_ok=True)
        for name, body in (
            ("_READY", "ok"), ("_VERSION", A._demo_version()),
            ("sentinel", "published by the other process"),
        ):
            with open(os.path.join(dest, name), "w") as fh:
                fh.write(body)
        return tmp

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp_then_concurrent_publish)
    try:
        out = A._outdegree_expected_dir()
        assert os.path.exists(os.path.join(dest, "sentinel"))
        assert out == dest
        # its own sc_outdeg_build_* dir is dropped, not left behind
        assert len(builds) == 1
        assert not os.path.exists(builds[0])
    finally:
        shutil.rmtree(dest, ignore_errors=True)
