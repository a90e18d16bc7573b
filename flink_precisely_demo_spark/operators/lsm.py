"""One LSM generation store: the on-disk protocol shared by the four
maintained indexes (operators/{ann,text,dedup,substring}_index.py)
and the two streaming stores, and the one idempotent
``foreachBatch`` sink that feeds them all. Only this module knows the
file names below; a client writes its own frames inside the staging
context managers and never touches a marker itself. The six sinks
are ``streaming/ann_upsert.py``, ``text_index_ingest.py``,
``substring_ingest.py``, ``dedup_ingest.py`` (the four indexes),
``cdc_upsert.py`` (the CDC upsert store) and ``streaming_dedup.py``
(the near-dup bucket store); ``corpus_pipeline.py`` composes three
of them. A caller drains a stream into a sink with
``streaming/pipeline.drain``.

Layout of an index at ``<index_path>``:

- the **base**: whatever the index writes plus the ``_INDEX_OK``
  marker. Readers accept only marker-bearing dirs (:func:`index_ok`).
  A base may carry ``manifest.json``, the index's build parameters
  (:func:`write_manifest`; the text and substring indexes).
- ``deltas/delta-NNNNNN-<pid>-<hex>/``: **delta generations**,
  ascending by NNNNNN. Each carries ``_DELTA_OK`` and, for a tagged
  writer, ``_TAG`` (one line). Only marked dirs are generations.
- ``<index_path>.applied.json``: a **sibling manifest** of writer
  tags whose deltas a compaction folded away. It lives outside the
  index dir, so the base publish never touches it.

Protocol:

- :func:`new_delta` takes the next sequence number, reaps stage dirs
  of dead writers, stages under ``deltas/.stage-<pid>-<hex>``, writes
  ``_TAG`` then ``_DELTA_OK`` and renames the stage into place. The
  tag is published by the same rename as the delta. A writer that
  dies before the rename leaves an unmarked stage that no reader
  sees; the next writer reaps it once its pid is gone. An exception
  inside the context removes the stage and publishes nothing.
- :func:`new_base` reaps dead ``.build-``/``.old-`` siblings, stages
  at ``<index_path>.build-<pid>-<hex>``, writes ``_INDEX_OK`` and
  publishes by two renames: the old index aside to ``.old-<nonce>``,
  the stage into place. A reader's "no index" window is the instant
  between them, not the length of an rmtree. A stage that compacted
  tagged deltas of its own carries a ``.applied.json`` sibling, which
  moves beside the index at publish.
- Compaction is ``new_base(..., compact=True)``: it no-ops when there
  are no deltas, and persists the live tags into the manifest BEFORE
  folding. A crash between the two only duplicates tags in a set
  union; it never loses one.
- Id tombstones (ANN and text): a delta may carry ``tombstones/``
  naming every id it touched. A row of generation ``g`` is live iff
  no tombstone of a generation ``> g`` names its id
  (:func:`reconcile`); the base is generation 0.

Idempotence (:func:`index_sink`): micro-batch ``n`` publishes its
delta tagged ``b<n>``. The applied set is manifest ∪ live delta
tags, and one retry rule holds for every sink:

- an applied ``b<m>`` with ``m > n`` means the checkpoint belongs to
  another store (deleted or replaced, so batch ids restarted): the
  sink fails fast, whether or not ``b<n>`` itself is applied;
- ``b<n>`` is the newest applied tag: a ``foreachBatch`` retry,
  which no-ops, also after a scheduled or out-of-band compaction;
- otherwise the batch applies.

Only the newest batch can be a legitimate retry. With
``compact_every=k`` the sink compacts once k generations have
accumulated, which keeps read width (and the tombstone set)
bounded on an unbounded stream.

A store that starts from nothing (the CDC and near-dup stores)
publishes an empty base typed like its deltas on its first trigger
(:func:`ensure_base`); :func:`compact_generations` is the generic
fold of such a store.

Empty generations: a partitioned parquet write of zero rows leaves a
dir with no data file, from which no later read can infer a schema.
:func:`write_generation` is the one writer of a generation's
partitioned frame; when its write left no data file it writes the
frame's empty schema unpartitioned into the same dir, so every dir it
wrote is readable. The check is a listing of that dir, so a non-empty
write pays no extra job, and no client probes a frame for rows
before writing it. An empty micro-batch therefore publishes one empty
tagged delta, except in the ANN and text sinks given an op column:
their op count (:func:`split_mutations`) already says the batch is
empty, and they publish nothing.

One writer per index; concurrent writers need outside coordination.
On an object store the production analogue is a versioned prefix
plus a pointer flip: same invariants, different rename.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from contextlib import contextmanager
from functools import reduce
from typing import Callable, Iterator

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DELTA_RE = r"delta-(\d{6})-"
_MANIFEST = "manifest.json"


def _nonce() -> str:
    return f"{os.getpid()}-{uuid.uuid4().hex[:8]}"


def _write_line(path: str, line: str) -> None:
    with open(path, "w") as f:
        f.write(line + "\n")


def _reap_dead(parent: str, prefixes: tuple[str, ...]) -> None:
    """Remove ``<prefix><pid>-...`` entries of dead processes."""
    for name in os.listdir(parent) if os.path.isdir(parent) else []:
        for prefix in prefixes:
            if not name.startswith(prefix):
                continue
            try:
                os.kill(int(name[len(prefix):].split("-")[0]), 0)
            except (ValueError, ProcessLookupError):
                # a dead stage may be a DIR or a FILE (the stage's
                # sibling .applied.json); rmtree refuses files
                dead = os.path.join(parent, name)
                if os.path.isdir(dead):
                    shutil.rmtree(dead, ignore_errors=True)
                else:
                    try:
                        os.remove(dead)
                    except OSError:
                        pass
            except PermissionError:
                pass                    # pid alive, not ours


def _reap_stale_dirs(index_path: str) -> None:
    parent, base = os.path.split(os.path.abspath(index_path))
    _reap_dead(parent, (base + ".build-", base + ".old-"))


def _reap_stale_delta_stages(index_path: str) -> None:
    _reap_dead(os.path.join(index_path, "deltas"), (".stage-",))


def _publish_index(build_path: str, final_path: str, nonce: str) -> None:
    """Swing the old dir aside (a rename, not an rmtree), the new one
    into place, then reclaim the old one."""
    old_path = f"{final_path}.old-{nonce}"
    try:
        os.rename(final_path, old_path)
    except FileNotFoundError:
        old_path = None                     # first build: nothing to swap
    os.rename(build_path, final_path)
    if old_path is not None:
        shutil.rmtree(old_path, ignore_errors=True)


def publish(stage: str, final: str) -> None:
    """Atomically replace ``final`` with the staged dir ``stage`` (a
    companion dir published next to an index)."""
    _reap_stale_dirs(final)
    _publish_index(stage, final, _nonce())


def index_ok(index_path: str) -> bool:
    """True only for a completely built index (marker present)."""
    return os.path.isfile(os.path.join(index_path, "_INDEX_OK"))


def read_manifest(index_path: str) -> dict:
    """The build parameters an index wrote with :func:`write_manifest`
    (and every compaction carries forward)."""
    with open(os.path.join(index_path, _MANIFEST)) as f:
        return json.load(f)


def write_manifest(stage: str, man: dict) -> None:
    with open(os.path.join(stage, _MANIFEST), "w") as f:
        json.dump(man, f)


def _delta_dirs(index_path: str) -> list[tuple[int, str]]:
    """Published delta generations as (seq, dir), ascending."""
    root = os.path.join(index_path, "deltas")
    out = []
    for name in sorted(os.listdir(root)) if os.path.isdir(root) else []:
        m = re.match(_DELTA_RE, name)
        d = os.path.join(root, name)
        if m and os.path.isfile(os.path.join(d, "_DELTA_OK")):
            out.append((int(m.group(1)), d))
    out.sort()
    return out


def delta_count(index_path: str) -> int:
    """Number of published delta generations (the compaction debt)."""
    return len(_delta_dirs(index_path))


def delta_tags(index_path: str) -> set[str]:
    """Writer tags riding the published delta generations."""
    out = set()
    for _, d in _delta_dirs(index_path):
        tag_file = os.path.join(d, "_TAG")
        if os.path.isfile(tag_file):
            with open(tag_file) as f:
                out.add(f.read().strip())
    return out


def _manifest_path(index_path: str) -> str:
    return index_path.rstrip("/") + ".applied.json"


def applied_tags(index_path: str) -> set[str]:
    """Every writer tag the index has absorbed: the sibling manifest
    unioned with the tags still riding live deltas."""
    try:
        with open(_manifest_path(index_path)) as f:
            persisted = set(json.load(f))
    except (FileNotFoundError, json.JSONDecodeError):
        persisted = set()
    return persisted | delta_tags(index_path)


def _persist_tags(index_path: str, tags: set[str]) -> None:
    path = _manifest_path(index_path)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(sorted(tags), f)
    os.rename(tmp, path)


@contextmanager
def new_delta(index_path: str, tag: str | None = None
              ) -> Iterator[tuple[str, int]]:
    """Yields ``(stage_dir, seq)``; a normal exit publishes the frames
    written under ``stage_dir`` as generation ``seq`` tagged ``tag``."""
    if not index_ok(index_path):
        raise FileNotFoundError(f"no published index at {index_path}")
    deltas = _delta_dirs(index_path)
    seq = (deltas[-1][0] + 1) if deltas else 1
    root = os.path.join(index_path, "deltas")
    os.makedirs(root, exist_ok=True)
    _reap_stale_delta_stages(index_path)
    nonce = _nonce()
    stage = os.path.join(root, f".stage-{nonce}")
    try:
        yield stage, seq
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    if tag is not None:
        _write_line(os.path.join(stage, "_TAG"), tag)
    _write_line(os.path.join(stage, "_DELTA_OK"), "ok")
    os.rename(stage, os.path.join(root, f"delta-{seq:06d}-{nonce}"))


@contextmanager
def new_base(index_path: str, compact: bool = False
             ) -> Iterator[str | None]:
    """Yields the (not yet created) stage dir of a new base, which a
    normal exit publishes; with ``compact``, yields ``None`` and
    publishes nothing when there are no deltas to fold."""
    if compact:
        if not _delta_dirs(index_path):
            yield None
            return
        if delta_tags(index_path):
            _persist_tags(index_path, applied_tags(index_path))
        _reap_stale_delta_stages(index_path)
    _reap_stale_dirs(index_path)
    nonce = _nonce()
    stage = f"{index_path}.build-{nonce}"
    try:
        yield stage
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    _write_line(os.path.join(stage, "_INDEX_OK"), "ok")
    _publish_index(stage, index_path, nonce)
    if os.path.exists(_manifest_path(stage)):
        os.replace(_manifest_path(stage), _manifest_path(index_path))


def delta_frames(spark: SparkSession, index_path: str, sub: str,
                 schema: str | None = None) -> list[DataFrame]:
    """``sub`` of every published delta that has one, oldest first.
    A ``schema`` spares each read its schema-inference job."""
    read = spark.read if schema is None else spark.read.schema(schema)
    return [read.parquet(os.path.join(d, sub))
            for _, d in _delta_dirs(index_path)
            if os.path.isdir(os.path.join(d, sub))]


def all_generations(spark: SparkSession, index_path: str, sub: str,
                    schema: str | None = None) -> DataFrame:
    """Base ``sub`` unioned with every published delta's (for stores
    whose generations only add rows)."""
    read = spark.read if schema is None else spark.read.schema(schema)
    return reduce(DataFrame.unionByName,
                  [read.parquet(f"{index_path}/{sub}"),
                   *delta_frames(spark, index_path, sub, schema)])


def ensure_base(index_path: str, sub: str, like: DataFrame) -> None:
    """Publish an empty base whose ``sub`` is typed like ``like``
    unless a base is published: a store that starts from nothing
    calls this before its first read or :func:`new_delta`."""
    if not index_ok(index_path):
        with new_base(index_path) as stage:
            like.limit(0).write.parquet(f"{stage}/{sub}")


def write_generation(df: DataFrame, dest: str,
                     partition_by: str | None = None) -> None:
    """Write ``df`` to ``dest`` (overwrite), partitioned by
    ``partition_by`` when given. A write that left no data file gets
    ``df``'s empty schema written unpartitioned in its place, so
    ``dest`` stays readable (see the module docstring)."""
    w = df.write.mode("overwrite")
    (w if partition_by is None else w.partitionBy(partition_by)) \
        .parquet(dest)
    if not any(f.endswith(".parquet")
               for _, _, files in os.walk(dest) for f in files):
        df.limit(0).write.mode("overwrite").parquet(dest)


def compact_generations(spark: SparkSession, index_path: str, sub: str,
                        fold: Callable[[DataFrame], DataFrame]) -> int:
    """Fold base + deltas of ``sub`` through ``fold`` into a new base;
    returns the number of generations folded."""
    folded = delta_count(index_path)
    with new_base(index_path, compact=True) as stage:
        if stage is None:
            return 0
        fold(all_generations(spark, index_path, sub)) \
            .write.parquet(f"{stage}/{sub}")
    return folded


def write_tombstones(spark: SparkSession, stage: str, id_col: str,
                     touched: DataFrame | None, delete_ids,
                     id_type_path: str) -> None:
    """Write the delta's ``tombstones/``: the ids of ``touched`` (one
    column ``id_col``) plus ``delete_ids`` (iterable or one-column
    DataFrame). Iterable ids take the type of ``id_col`` at
    ``id_type_path``: a string- or int32-keyed index needs
    type-matched tombstones, or the reader's anti-join breaks."""
    frames = [] if touched is None else [touched.distinct()]
    if delete_ids is not None:
        if isinstance(delete_ids, DataFrame):
            frames.append(delete_ids.toDF(id_col).distinct())
        else:
            id_type = spark.read.parquet(id_type_path) \
                .schema[id_col].dataType
            frames.append(spark.createDataFrame(
                [(i,) for i in delete_ids],
                T.StructType([T.StructField(id_col, id_type)])))
    reduce(DataFrame.unionByName, frames).distinct().coalesce(1) \
        .write.mode("overwrite").parquet(f"{stage}/tombstones")


def reconcile(spark: SparkSession, index_path: str, sub: str,
              id_col: str, scan: Callable[[str], DataFrame]) -> DataFrame:
    """Live rows of ``sub`` across base + deltas under the tombstone
    rule; ``scan`` reads (and may prune) one generation's ``sub``.
    With no deltas this is the plain base scan."""
    from .broadcast import hint_broadcast_if_small

    base = scan(f"{index_path}/{sub}")
    deltas = _delta_dirs(index_path)
    if not deltas:
        return base
    frames = [base.withColumn("_gen", F.lit(0))]
    tombs = []
    for seq, d in deltas:
        sdir = os.path.join(d, sub)
        if os.path.isdir(sdir):           # pure-delete deltas have none
            frames.append(scan(sdir).withColumn("_gen", F.lit(seq)))
        tombs.append(spark.read.parquet(os.path.join(d, "tombstones"))
                     .select(F.col(id_col).alias("_t_id"),
                             F.lit(seq).alias("_t_gen")))
    allr = reduce(DataFrame.unionByName, frames)
    tomb = hint_broadcast_if_small(reduce(DataFrame.unionByName, tombs))
    # an equi-join on id plus the generation inequality: a map-side
    # BroadcastHashJoin LeftAnti while the tombstone set is small
    live = allr.join(
        tomb, (allr[id_col] == tomb["_t_id"]) &
              (tomb["_t_gen"] > allr["_gen"]), "left_anti")
    return live.drop("_gen")


def split_mutations(batch_df: DataFrame, op_col: str | None, id_col: str,
                    value_col: str
                    ) -> tuple[DataFrame | None, DataFrame | None]:
    """(updates, deletes) of a mutation batch: ``op_col == 'D'`` rows
    delete their ids, all others upsert ``(id_col, value_col)``. One
    job counts both sides; an absent side is ``None``, both ``None``
    an empty trigger. With ``op_col=None`` every row upserts and no
    job runs."""
    if op_col is None:
        return batch_df.select(id_col, value_col), None
    is_delete = F.col(op_col) == "D"
    # observed counts over the noop sink: one job with no shuffle, where
    # a grouped count would run a map-stage job and a result job
    seen = Observation()
    batch_df.select(op_col).observe(
        seen, F.count_if(~is_delete).alias("updates"),
        F.count_if(is_delete).alias("deletes")) \
        .write.format("noop").mode("overwrite").save()
    n = seen.get
    return (batch_df.filter(~is_delete).select(id_col, value_col)
            if n["updates"] else None,
            batch_df.filter(is_delete).select(id_col)
            if n["deletes"] else None)


def index_sink(index_path: str,
               apply: Callable[[DataFrame, int, str], None],
               compact: Callable[[SparkSession, str], int],
               compact_every: int | None):
    """The ``foreachBatch`` function of a maintained index around
    ``apply(batch_df, batch_id, tag)``, which publishes at most one
    delta tagged ``tag``; ``compact(spark, index_path)`` folds."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        newest = max((int(t[1:]) for t in applied_tags(index_path)
                      if t.startswith("b") and t[1:].isdigit()),
                     default=-1)
        if newest > batch_id:
            raise RuntimeError(
                f"store {index_path!r} already absorbed batch {newest} "
                f"but this query is writing batch {batch_id} — the "
                "checkpoint does not belong to this store "
                "(deleted/replaced checkpoint?). Restore the matching "
                "checkpoint or point the sink at a fresh store.")
        if newest == batch_id:
            return                       # foreachBatch retry: no-op
        apply(batch_df, batch_id, f"b{batch_id}")
        if compact_every and delta_count(index_path) >= compact_every:
            compact(batch_df.sparkSession, index_path)

    return apply_batch

