"""The scratch-directory policy of ``session.py``: one root per
application under ``$TMPDIR/quty``, one stale-sibling sweep, and the
checkpoint dir and every query's working files beneath that root."""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from quty_server_spark import session as S
from tests.conftest import SF_DIR


def test_scratch_dirs_share_one_application_root(spark):
    root = os.path.join(
        tempfile.gettempdir(), "quty", spark.sparkContext.applicationId
    )
    sf = os.path.basename(SF_DIR.rstrip("/"))
    assert S.session_tmp_dir(spark, "quty_layout_test", SF_DIR) == os.path.join(
        root, "quty_layout_test", sf
    )
    assert root in S._APP_ROOTS

    S.ensure_checkpoint_dir(spark)
    ckpt = spark.sparkContext._jsc.sc().getCheckpointDir().get()
    assert ckpt.removeprefix("file:").startswith(root + os.sep)


def test_fresh_tmp_dir_clears_earlier_contents(spark):
    path = S.session_tmp_dir(spark, "quty_fresh_test", SF_DIR)
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "leftover"), "w") as fh:
        fh.write("x")
    assert S.fresh_tmp_dir(spark, "quty_fresh_test", SF_DIR) == path
    assert not os.path.exists(path)
    # An errorifexists write to the returned path succeeds.
    spark.range(3).write.parquet(path)
    assert spark.read.parquet(path).count() == 3
    shutil.rmtree(path)


def test_stale_sibling_sweep_removes_only_old_roots(spark):
    own = S._app_root(spark)
    os.makedirs(own, exist_ok=True)
    top = os.path.dirname(own)
    old = os.path.join(top, "quty-sweep-test-old")
    recent = os.path.join(top, "quty-sweep-test-recent")
    now = time.time()
    for d, days in ((old, 8), (recent, 1)):
        os.makedirs(os.path.join(d, "kind", "sf"), exist_ok=True)
        t = now - days * 24 * 3600
        os.utime(d, (t, t))
    try:
        S._prune_stale_siblings(top, own)
        assert not os.path.exists(old)
        assert os.path.isdir(recent)
        assert os.path.isdir(own)
    finally:
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(recent, ignore_errors=True)
