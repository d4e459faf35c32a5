"""The lake-commit journal: the one crash-safe publish protocol of
every lake writer (K1's partition rewrite, erasure, compaction, the
streaming lakes' tail compaction and the digest backfill).

The reference replaces each partition object with one atomic S3
``put_object`` (gluejob.py:190-205), so a crashed run never loses
rows. A writer here replaces whole partition directories (hive lakes)
or data files (the streaming ingests' flat lakes). It writes the new
copies with Spark into :func:`staging`, then calls :func:`commit` with
the paths, relative to the target, to publish and to remove:

1. the manifest ``{publish, remove, info}`` is written to ``.tmp`` and
   renamed into place — the commit point;
2. each ``publish`` path whose staged copy exists replaces the target
   copy (delete, then rename staged → target); a path missing from
   both places raises, because its copy is lost;
3. each ``remove`` path is deleted;
4. staging and the manifest are dropped.

Steps 2-4 replay idempotently: a staged copy that still exists proves
the target copy is the old one, so a crash anywhere heals when the
next writer, or reader, calls :func:`recover` on the target. Publishes
run before removes, so a reader of a flat lake sees at worst transient
duplicates mid-commit, never absent rows. Before the commit point the
lake is untouched, and recovery drops the orphan staging. Recovery
also redoes the streaming lakes' pre-r16 whole-directory swap.

Everything lives under ``{target}/_journal`` — on the target's
filesystem, and hidden from Spark's file index and lake listings by
its ``_`` prefix. The conceptual model is Delta Lake's log-based
commit (Armbrust et al., VLDB 2020), reduced to a single pending
entry. Like any rename-based commit it relies on an atomic
``rename``: HDFS and local filesystems give one; an object store
renames by copy and delete, and needs a committer of its own.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from .sources.files import _hadoop_path

_JOURNAL = "_journal"
_MANIFEST = "manifest.json"


def staging(target: str) -> str:
    """Where a writer stages the new copies of ``target``'s paths."""
    return f"{target.rstrip('/')}/{_JOURNAL}/staging"


def commit(
    spark: SparkSession,
    target: str,
    publish: list[str],
    remove: list[str],
    info: dict | None = None,
) -> None:
    """Publish the staged ``publish`` paths over ``target``'s copies
    and delete its ``remove`` paths, crash-safely (module docstring).
    ``info`` rides in the manifest; :func:`recover` returns it."""
    fs, jdir = _hadoop_path(spark, f"{target.rstrip('/')}/{_JOURNAL}")
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    doc = {"publish": list(publish), "remove": list(remove), "info": info}
    tmp = hpath(jdir, _MANIFEST + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(doc).encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, hpath(jdir, _MANIFEST)):
        raise IOError(f"journal manifest publish failed: {target}")
    _replay(spark, fs, target, doc)


def recover(spark: SparkSession, target: str) -> dict | None:
    """Finish a commit a crash interrupted, or drop what a crash
    before its commit point left behind. Returns the interrupted
    commit's ``info``, or None when none was pending."""
    fs, jdir = _hadoop_path(spark, f"{target.rstrip('/')}/{_JOURNAL}")
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    _finish_legacy_swap(fs, hpath, target.rstrip("/"))
    manifest = hpath(jdir, _MANIFEST)
    if not fs.exists(manifest):
        fs.delete(jdir, True)  # orphan staging or .tmp: never committed
        return None
    stream = fs.open(manifest)
    try:
        body = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    doc = json.loads(body)
    _replay(spark, fs, target, doc)
    return doc["info"]


def _finish_legacy_swap(fs, hpath, root: str) -> None:
    """Redo a streaming lake's pre-r16 whole-directory compaction
    swap: its zero-byte ``{root}._swap_pending`` marker says that
    ``{root}._compacted`` holds a complete copy of the lake."""
    marker = hpath(root + "._swap_pending")
    if not fs.exists(marker):
        return
    if fs.getFileStatus(marker).getLen():
        raise IOError(
            f"{root}._swap_pending is an r16 swap manifest; finish it with "
            "the version that wrote it"
        )
    copy = hpath(root + "._compacted")
    if fs.exists(copy):
        fs.delete(hpath(root), True)
        if not fs.rename(copy, hpath(root)):
            raise IOError(f"legacy lake swap recovery failed: {root}")
    fs.delete(marker, False)


def _replay(spark: SparkSession, fs, target: str, doc: dict) -> None:
    """Steps 2-4 of the protocol; every step is safe to repeat."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    root, stage = target.rstrip("/"), staging(target)
    for rel in doc["publish"]:
        src, dst = hpath(f"{stage}/{rel}"), hpath(f"{root}/{rel}")
        if fs.exists(src):
            if not fs.delete(dst, True):
                fs.mkdirs(dst.getParent())  # a new partition's parent
            if not fs.rename(src, dst):
                raise IOError(f"journal publish failed: {src} -> {dst}")
        elif not fs.exists(dst):
            raise IOError(
                f"journal lost {rel} of {target}: neither staged nor "
                "published"
            )
    for rel in doc["remove"]:
        fs.delete(hpath(f"{root}/{rel}"), True)
    fs.delete(hpath(f"{root}/{_JOURNAL}"), True)


def name_staged_files(
    spark: SparkSession, target: str, dirs: list[str], name: str
) -> None:
    """Give the lone data file of each staged directory in ``dirs``
    the object name ``name`` (the reference's ``{table}.parquet``,
    gluejob.py:187). Runs before the commit point, so a directory
    holding more than one data file raises with the lake untouched."""
    fs, stage = _hadoop_path(spark, staging(target))
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    for d in dirs:
        parts = list(fs.globStatus(hpath(stage, f"{d}/part-*.parquet")) or [])
        if len(parts) != 1:
            raise IOError(
                f"single-object write expects one part file in {d}, found "
                f"{len(parts)} — refusing to publish"
            )
        if not fs.rename(parts[0].getPath(), hpath(stage, f"{d}/{name}")):
            raise IOError(f"single-object rename failed in {d}")
