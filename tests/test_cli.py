"""Shell-veneer tests: the CLI verbs (the reference's SnackFSShell
surface) must delegate to the catalog plans and return shell-style exit
codes."""

from __future__ import annotations

from snackfs_spark.__main__ import main
from tests.conftest import SF_ORACLE


def _run(*argv: str) -> int:
    return main(["--sf-dir", SF_ORACLE, "--cpus", "4", *argv])


def test_cli_test_predicates_exit_codes():
    assert _run("test", "-e", "/data/src0") == 0
    assert _run("test", "-d", "/data/src0") == 0
    assert _run("test", "-e", "/data/definitely_missing") == 1


def test_cli_cat_and_ls(capsys):
    assert _run("ls", "/data/src0") == 0
    assert _run("cat", "/data/src0/doc_0.txt") == 0
    out = capsys.readouterr().out
    assert "doc_0.txt" in out and len(out) > 100
    assert _run("cat", "/data/missing.txt") == 1


def test_cli_cat_directory_and_stat(capsys):
    assert _run("cat", "/data/src0") == 1
    assert "cat: /data/src0: is a directory" in capsys.readouterr().err
    assert _run("stat", "/data/src0/doc_0.txt") == 0
    out = capsys.readouterr().out
    assert "path: /data/src0/doc_0.txt" in out and "is_dir: False" in out
    assert _run("stat", "/data/missing.txt") == 1


def test_cli_put_get_cp_touchz_text(tmp_path, capsys):
    # put: ingest a local dir
    src = tmp_path / "local"
    src.mkdir()
    (src / "a.txt").write_text("hello snackfs")
    assert _run("put", str(src), "/ingest") == 0
    out = capsys.readouterr().out
    assert "/ingest/a.txt" in out
    assert _run("put", str(tmp_path / "missing_dir"), "/ingest") == 1

    # get: copy fs file content to a local file
    dst = tmp_path / "out.txt"
    assert _run("get", "/data/src0/doc_0.txt", str(dst)) == 0
    assert dst.read_text()  # non-empty, byte-exact content checked in test_catalog
    assert _run("get", "/data/missing.txt", str(tmp_path / "nope.txt")) == 1

    # cp: subtree copy plan
    assert _run("cp", "/data/src0", "/data/copy0") == 0
    out = capsys.readouterr().out
    assert "/data/copy0/" in out
    assert _run("cp", "/data/missing_dir", "/data/copyX") == 1

    # touchz: zero-length create; refused on non-empty existing file
    assert _run("touchz", "/data/new_empty.txt") == 0
    assert _run("touchz", "/data/src0/doc_0.txt") == 1

    # text: decode report for a stored payload
    assert _run("text", "/data/src0/doc_0.txt") == 0
    out = capsys.readouterr().out
    assert "gzip" in out or "plain" in out or "zip" in out
    assert _run("text", "/data/missing.txt") == 1
