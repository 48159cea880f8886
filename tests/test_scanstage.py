"""sources/scanstage.py — hardlink scan staging: the link dir must be a
faithful view of the group with every file named ``<id>-<basename>``,
``link_id`` must recover the id of each scanned row whatever the file
is called, and a group that cannot be linked must DECLINE (return
None) without leaving a partial dir behind."""

import gzip
import os

from mini_data_platform_spark.sources.scanstage import (
    cleanup_dirs,
    link_id,
    stage_link_dir,
)

N = 12


def _mk(tmp_path, n, name=lambda i: f"f{i:04d}.csv"):
    d = tmp_path / "src"
    d.mkdir(exist_ok=True)
    paths = []
    for i in range(n):
        p = d / name(i)
        p.write_text(f"a,b\n{i},x\n")
        paths.append(str(p))
    return paths


class TestStageLinkDir:
    def test_links_preserve_basenames_and_content(self, tmp_path):
        paths = _mk(tmp_path, N)
        d = stage_link_dir(paths)
        assert d is not None
        try:
            assert sorted(os.listdir(d)) == sorted(
                f"{i}-{os.path.basename(p)}" for i, p in enumerate(paths)
            )
            # hardlink, not copy: same inode, so a later move/delete of
            # the original never invalidates an in-flight scan
            st = os.stat(os.path.join(d, "0-" + os.path.basename(paths[0])))
            assert st.st_ino == os.stat(paths[0]).st_ino
            with open(os.path.join(d, "3-" + os.path.basename(paths[3]))) as fh:
                assert fh.read() == "a,b\n3,x\n"
        finally:
            cleanup_dirs([d])
        assert not os.path.isdir(d)

    def test_single_file_and_explicit_ids(self, tmp_path):
        paths = _mk(tmp_path, 1)
        d = stage_link_dir(paths, [41])
        try:
            assert os.listdir(d) == ["41-" + os.path.basename(paths[0])]
        finally:
            cleanup_dirs([d])

    def test_declines_missing_file(self, tmp_path):
        paths = _mk(tmp_path, N)
        assert stage_link_dir(paths + [str(tmp_path / "gone.csv")]) is None

    def test_link_failure_rolls_back(self, tmp_path, monkeypatch):
        paths = _mk(tmp_path, N)
        calls = {"n": 0}
        real = os.link

        def flaky(src, dst):
            calls["n"] += 1
            if calls["n"] == 10:  # e.g. EXDEV on a cross-device tempdir
                raise OSError(18, "Invalid cross-device link")
            return real(src, dst)

        monkeypatch.setattr(os, "link", flaky)
        import glob
        import tempfile

        before = set(
            glob.glob(os.path.join(tempfile.gettempdir(), "mdp_scanstage_*"))
        )
        assert stage_link_dir(paths) is None
        after = set(
            glob.glob(os.path.join(tempfile.gettempdir(), "mdp_scanstage_*"))
        )
        assert after == before, "partial staging dir leaked"


class TestLinkId:
    """The ``<id>`` round-trips through ``input_file_name()`` for names
    Spark would hide (``_x.csv``), names whose URI spelling differs from
    the basename (``a b.csv`` -> ``a%20b.csv``), duplicate basenames
    from different directories, and codec suffixes Spark must still
    see (``.csv.gz``)."""

    def test_ids_round_trip_awkward_names(self, spark, tmp_path):
        src = tmp_path / "src"
        other = tmp_path / "other"
        src.mkdir()
        other.mkdir()
        paths = []
        for i, (d, name) in enumerate(
            [(src, "_x.csv"), (src, "a b.csv"), (src, "plain.csv"),
             (other, "plain.csv"), (src, "z.csv.gz")]
        ):
            body = f"a,b\n{i},x\n{i},y\n".encode()
            p = str(d / name)
            with open(p, "wb") as fh:
                fh.write(gzip.compress(body) if name.endswith(".gz") else body)
            paths.append(p)
        ids = [7, 3, 100, 12, 5]
        d = stage_link_dir(paths, ids)
        assert d is not None
        try:
            rows = (
                spark.read.option("header", True)
                .csv(d)
                .select(link_id().alias("id"), "a")
                .collect()
            )
        finally:
            cleanup_dirs([d])
        got = sorted((r["id"], int(r["a"])) for r in rows)
        # every file's two rows, each tagged with that file's id
        assert got == sorted(
            (ids[i], i) for i in range(len(paths)) for _ in range(2)
        )
