"""Scratch-dir hygiene laws (workdirs.fresh_work_dir): a full bench +
pytest run must leave a BOUNDED, enumerable set of scratch dirs — one
per (site, sf) under the uid-scoped work root — never one per
invocation.  Round 7's audit measured 1,598 leaked mkdtemp dirs
(648 MB) in one session's /tmp; this file pins the sweep that retired
them and fails on any regression to the old pattern."""

from __future__ import annotations

import glob
import os
import tempfile

from etl_dados_ibge_sp_spark.workdirs import fresh_work_dir, work_root

SF = "/root/testdata/sf0.001"

# Every prefix the retired mkdtemp-per-invocation sites used: no test
# or query run may create NEW entries with these names in the shared
# tempdir anymore.
RETIRED_PREFIXES = ["events_stream_", "orc_rt_", "stream_cur_",
                    "jsonl_rt_", "text_rt_", "vtable_pkg_",
                    "etl_ibge_pkg_", "lh_loop_", "vsink_rt_"]


def _retired_count() -> int:
    td = tempfile.gettempdir()
    return sum(len(glob.glob(os.path.join(td, p + "*")))
               for p in RETIRED_PREFIXES)


def _work_entries() -> set[str]:
    return set(os.listdir(work_root()))


def test_fresh_work_dir_bounded_and_cleared():
    a = fresh_work_dir("hyg_demo", SF)
    open(os.path.join(a, "debris"), "w").write("x")
    b = fresh_work_dir("hyg_demo", SF)
    assert a == b                       # deterministic: ONE dir per key
    assert os.listdir(b) == []          # cleared on entry
    assert b.startswith(work_root())    # uid-scoped parent
    assert oct(os.stat(work_root()).st_mode & 0o777) == "0o700"


def test_fresh_work_dir_handles_foreign_entry():
    """A pre-existing file or symlink at the path (same-user debris —
    the parent is 0700) is removed, not a makedirs crash."""
    root = work_root()
    path = os.path.join(root, "hyg_foreign_"
                        + __import__("hashlib").md5(SF.encode())
                        .hexdigest()[:12])
    import shutil
    shutil.rmtree(path, ignore_errors=True)
    open(path, "w").write("foreign file at the dir path")
    got = fresh_work_dir("hyg_foreign", SF)
    assert got == path and os.path.isdir(got)
    shutil.rmtree(path)
    os.symlink("/nonexistent", path)    # now a dangling symlink
    got = fresh_work_dir("hyg_foreign", SF)
    assert os.path.isdir(got) and not os.path.islink(got)


def test_routed_queries_reuse_one_dir_per_site(spark):
    """Invoking each formerly-leaking query twice creates ZERO new
    retired-prefix dirs and exactly ONE work-root entry per
    (site, sf) — the deterministic name, reused, never a second dir.
    (Other sf keys may legitimately hold their own dir from other
    runs, so the pin is on this sf's tag, not the site prefix.)

    Since the round-8 concurrency fix, ``_events_stream`` keys its
    staging dir per CALL SITE (``events_stream_<label>_<tag>``) so two
    live streams can't rmtree each other's symlink dir — the bound is
    therefore one dir per (label, sf), with labels drawn from the
    enumerable call sites in streaming/windowed.py, still never one
    per invocation."""
    import hashlib
    import re

    from etl_dados_ibge_sp_spark.queries import lakehouse as r2
    from etl_dados_ibge_sp_spark.streaming import windowed as W

    # The closed set of _events_stream call-site labels (grep the
    # source so a new call site extends the bound automatically
    # rather than silently widening it).
    from pathlib import Path
    src = Path(os.path.dirname(__file__), "..",
               "etl_dados_ibge_sp_spark", "streaming",
               "windowed.py").read_text()
    labels = set(re.findall(r'_events_stream\(spark, sf_dir,\s*"(\w+)"',
                            src)) | {"events"}  # the default label
    assert len(labels) <= 16, "call-site label set should stay small"

    tag = hashlib.md5(SF.encode()).hexdigest()[:12]
    before_retired = _retired_count()
    for _ in range(2):
        r2.q_orc_roundtrip(spark, SF).collect()
        r2.q_jsonl_roundtrip(spark, SF).collect()
        r2.q_text_source_roundtrip(spark, SF).collect()
        W._events_stream(spark, SF)     # the 1,035-orphan site
        after = _work_entries()
        for site in ["orc_rt", "jsonl_rt", "text_rt"]:
            hits = {e for e in after if e.startswith(site + "_")
                    and e.endswith(tag)}
            assert hits == {f"{site}_{tag}"}
        stream_hits = {e for e in after
                       if e.startswith("events_stream_")
                       and e.endswith(tag)}
        assert f"events_stream_events_{tag}" in stream_hits
        assert stream_hits <= {f"events_stream_{lb}_{tag}"
                               for lb in labels}, \
            f"unexpected stream staging dirs: " \
            f"{sorted(stream_hits)[:5]} vs labels {sorted(labels)}"
    assert _retired_count() == before_retired


def test_package_mkdtemp_sites_are_allowlisted():
    """Source-scan pin: any NEW ``mkdtemp`` in package code must
    either route through workdirs.fresh_work_dir or clean up in a
    ``finally`` — additions go through this allowlist review."""
    pkg = os.path.join(os.path.dirname(__file__), "..",
                       "etl_dados_ibge_sp_spark")
    allowed = {
        # cleaned in finally before returning (materialized result):
        "streaming/windowed.py",        # incr_stream_
        # (manifest flips use mkstemp in-table and replace/unlink;
        # package zips go through workdirs.package_zip.)
    }
    hits = set()
    for dirpath, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            full = os.path.join(dirpath, f)
            if "mkdtemp(" in open(full).read():
                hits.add(os.path.relpath(full, pkg))
    assert hits <= allowed, (
        f"unreviewed mkdtemp sites: {sorted(hits - allowed)} — route "
        "through workdirs.fresh_work_dir or clean up in a finally, "
        "then extend the allowlist")


def test_package_zip_content_keyed_and_deterministic():
    """Two builds yield the SAME path and byte-identical content (so
    concurrent first-builds can never corrupt a running session's
    fetch), and the zip contains the package as a top-level dir."""
    import zipfile

    from etl_dados_ibge_sp_spark.workdirs import package_zip

    a = package_zip()
    b = package_zip()
    assert a == b and os.path.dirname(a) == work_root()
    with zipfile.ZipFile(a) as zf:
        names = zf.namelist()
        assert "etl_dados_ibge_sp_spark/workdirs.py" in names
        assert not any("__pycache__" in n for n in names)
        # zeroed timestamps: determinism across rebuilds
        assert all(zi.date_time == (1980, 1, 1, 0, 0, 0)
                   for zi in zf.infolist())


def test_scale_data_dirs_bounded_by_keep_list():
    """Retention for generated scale datasets (round-8 verdict item):
    the only sf*/ dirs allowed to persist under the work root are the
    explicit SCALE_DATA_KEEP list — regenerate-on-demand artifacts the
    per-round scale curve measures against (tools/make_scale_data.py
    rebuilds sf1.0 in ~1 min, deterministically).  prune_scale_data()
    sweeps anything else, and this law keeps the tree enumerable."""
    import shutil

    from etl_dados_ibge_sp_spark.workdirs import (SCALE_DATA_KEEP,
                                                  prune_scale_data,
                                                  scale_data_dirs)

    # Plant debris, prove the pruner removes exactly it.
    debris = os.path.join(work_root(), "sf99.9")
    os.makedirs(debris, exist_ok=True)
    try:
        removed = prune_scale_data()
        assert "sf99.9" in removed
        assert not os.path.exists(debris)
        assert set(scale_data_dirs()) <= set(SCALE_DATA_KEEP)
    finally:
        shutil.rmtree(debris, ignore_errors=True)
