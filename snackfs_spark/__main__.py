"""Shell veneer: the reference's CLI surface (SnackFSShell.scala:40-62 —
`ls lsr du dus count cat tail stat test getmerge ...`) over SnackCatalog.

    python -m snackfs_spark [--sf-dir DIR] ls /data/src0
    python -m snackfs_spark cat /data/src0/doc_7.txt
    python -m snackfs_spark test -e /data/src0   # exit code, like the shell

Formatting is client-side (as in the reference — column-width scanning in
SnackFSShell.scala:296-311 is presentation, not query); every verb
delegates to the same DataFrame plans the oracle checks.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F


def _show(df, n: int = 1000) -> None:
    df.show(n, truncate=False)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="snackfs_spark")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--cpus", type=int, default=8)
    sub = p.add_subparsers(dest="verb", required=True)
    for verb in ("ls", "lsr", "du", "dus", "count", "stat", "cat", "rm"):
        s = sub.add_parser(verb)
        s.add_argument("path")
    t = sub.add_parser("tail")
    t.add_argument("path")
    t.add_argument("-n", type=int, default=1024)
    te = sub.add_parser("test")
    te.add_argument("-e", dest="t_exists", action="store_true")
    te.add_argument("-z", dest="t_zero", action="store_true")
    te.add_argument("-d", dest="t_dir", action="store_true")
    te.add_argument("path")
    mv = sub.add_parser("mv")
    mv.add_argument("src")
    mv.add_argument("dst")
    # put/copyFromLocal, get/copyToLocal, cp -r, touchz, text — the
    # remaining SnackFSShell verbs (SnackFSShell.scala:40-62, put/get
    # at :601-613, touchz at :380-385)
    pu = sub.add_parser("put", help="ingest a local dir of files under an fs prefix")
    pu.add_argument("local_dir")
    pu.add_argument("fs_prefix", nargs="?", default="/ingest")
    ge = sub.add_parser("get", help="copy an fs file's content to a local file")
    ge.add_argument("path")
    ge.add_argument("local_file")
    cp = sub.add_parser("cp", help="copy a subtree to a new prefix")
    cp.add_argument("src")
    cp.add_argument("dst")
    tz = sub.add_parser("touchz", help="create a zero-length file")
    tz.add_argument("path")
    tx = sub.add_parser("text", help="magic-sniff + decode report for a stored payload")
    tx.add_argument("path")
    sub.add_parser("getmerge")
    sub.add_parser("locations")
    sub.add_parser("locks")
    sub.add_parser("mkdir")
    an = sub.add_parser(
        "analyze",
        help="run any registered analytics query (see 'analyze --list')",
    )
    an.add_argument("query", nargs="?", default=None)
    an.add_argument("--list", dest="an_list", action="store_true")
    an.add_argument("-n", type=int, default=50, help="rows to show")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from snackfs_spark.catalog import SnackCatalog, in_subtree
    from snackfs_spark.session import get_spark

    # getOrCreate may hand us a session someone else owns (tests, a
    # notebook): only stop what we actually created.
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("snackfs_shell", cpus=args.cpus)
    cat = SnackCatalog(spark, args.sf_dir)
    rc = 0
    if args.verb == "ls":
        _show(cat.ls(args.path))
    elif args.verb == "lsr":
        _show(cat.lsr(args.path))
    elif args.verb == "du":
        _show(cat.du(args.path))
    elif args.verb == "dus":
        _show(cat.dus(args.path))
    elif args.verb == "count":
        _show(cat.count(args.path))
    elif args.verb == "stat":
        rows = cat.stat(args.path).collect()
        if not rows:
            print(f"stat: {args.path}: no such file or directory", file=sys.stderr)
            rc = 1
        else:
            for key, value in rows[0].asDict().items():
                print(f"{key}: {value}")
    elif args.verb in ("cat", "get"):
        # open() carries the reference's errors (OpenFileCommand.scala:43-59)
        try:
            text = cat.open(args.path)
        except FileNotFoundError:
            print(f"{args.verb}: {args.path}: no such file", file=sys.stderr)
            rc = 1
        except IsADirectoryError:
            print(f"{args.verb}: {args.path}: is a directory", file=sys.stderr)
            rc = 1
        else:
            if args.verb == "cat":
                print(text)
            else:
                with open(args.local_file, "w", encoding="utf-8") as fh:
                    fh.write(text)
                print(f"{args.path} -> {args.local_file} ({len(text)} chars)")
    elif args.verb == "tail":
        rows = cat.tail(args.n).filter(F.col("path") == args.path).collect()
        if not rows:
            print(f"tail: {args.path}: no such file", file=sys.stderr)
            rc = 1
        else:
            print(rows[0]["tail_text"])
    elif args.verb == "test":
        row = cat.test_predicates(args.path).collect()[0]
        key = (
            "is_zero" if args.t_zero
            else "is_directory" if args.t_dir
            else "exists_flag"
        )
        rc = 0 if row[key] else 1
    elif args.verb == "mv":
        _show(cat.rename_plan(args.src, args.dst))
    elif args.verb == "put":
        from snackfs_spark.sources.writer import ingest_binary_dir

        try:
            ingested = ingest_binary_dir(spark, args.local_dir, args.fs_prefix)
            _show(ingested.select("path", F.length("text").alias("bytes")))
        except Exception as exc:  # missing local dir → shell-style rc
            print(f"put: {args.local_dir}: {exc}", file=sys.stderr)
            rc = 1
    elif args.verb == "cp":
        from snackfs_spark.sources.writer import cp_subtree

        new_files, _ = cp_subtree(cat.files, cat.content, args.src, args.dst)
        copies = new_files.filter(in_subtree(args.dst))
        if copies.limit(1).count() == 0:
            print(f"cp: {args.src}: no such file or directory", file=sys.stderr)
            rc = 1
        else:
            _show(copies.select("path", "is_dir", "size"))
    elif args.verb == "touchz":
        from snackfs_spark.sources.writer import touchz

        existing = cat.stat(args.path).collect()
        if existing and existing[0]["size"] > 0:
            # the reference refuses touchz on a non-empty file
            print(f"touchz: {args.path}: file exists with size > 0", file=sys.stderr)
            rc = 1
        else:
            _show(
                touchz(cat.files, spark, args.path).filter(F.col("path") == args.path)
            )
    elif args.verb == "text":
        from snackfs_spark.registry import load_all as _load_all

        report = (
            _load_all()["fs_text_decode"]
            .fn(spark, args.sf_dir)
            .filter(F.col("path") == args.path)
        )
        rows = report.collect()
        if not rows:
            print(f"text: {args.path}: no such file", file=sys.stderr)
            rc = 1
        else:
            _show(report)
    elif args.verb == "rm":
        _show(cat.delete_survivors(args.path))
    elif args.verb == "getmerge":
        _show(cat.getmerge().select("dir", F.length("merged").alias("bytes")))
    elif args.verb == "locations":
        _show(cat.block_locations())
    elif args.verb == "locks":
        _show(cat.lock_holders())
    elif args.verb == "mkdir":
        _show(cat.mkdirs_closure())
    elif args.verb == "analyze":
        from snackfs_spark.registry import load_all

        reg = load_all()
        if args.an_list or args.query is None:
            # grouped by operator family (the registering module) so the
            # 280+-query surface reads as a catalog, not a wall of names
            groups: dict[str, list[str]] = {}
            for name, q in reg.items():
                fam = q.fn.__module__.rsplit(".", 1)[-1]
                groups.setdefault(fam, []).append(name)
            for fam in sorted(groups):
                print(f"[{fam}] ({len(groups[fam])})")
                for name in groups[fam]:
                    print(f"  {name}")
        elif args.query not in reg:
            print(f"analyze: unknown query {args.query!r}", file=sys.stderr)
            rc = 1
        else:
            _show(reg[args.query].fn(spark, args.sf_dir), args.n)
    if owns_session:
        spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
