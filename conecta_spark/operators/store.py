"""Store core: the on-disk commit protocol behind the persisted signature
store (:mod:`.minhash_store`) and the persisted IVF ANN store
(:mod:`.ann_store`).  This is the only module that knows the protocol;
the two stores keep their algorithms and call it directly.

Layout (all paths under the store directory)::

    manifest.json   the commit record: params, counters, generation
                    counters, applied_batches, compacted_batches,
                    schema version
    .store.lock     the mutators' flock
    <name>/         a base relation (or file) at generation 0, named
                    <name>-g<N> after N generation bumps
    batches/<id>/   one directory per committed append, unioned with the
                    base on read until a compaction folds it

Commit protocol:

* **Mutators serialize, readers don't.**  Every mutator (build, append
  commit, compaction, refreeze/recluster) holds an exclusive flock on
  the store directory (:func:`lock`).  The manifest commit is a
  read-modify-write of ``applied_batches``: two unserialized appends
  would each read the old list and the last writer would silently drop
  the other's committed batch forever.  Readers take no lock -- appends
  add NEW batch dirs and generation bumps write NEW generation dirs, so a
  reader's manifest snapshot keeps pointing at intact files.
* **The manifest is the commit.**  Relations are written first; the
  atomic manifest replace (:func:`write_json`, tmp + ``os.replace``) is
  what makes them visible.  A crashed build leaves no manifest and the
  store reads as absent.  The one in-place mutator is a REBUILD over an
  existing store (:func:`reset`): it removes the manifest first (the old
  manifest must not vouch for half-overwritten data), the batch dirs and
  every generation-suffixed entry, and can still race a reader mid-scan;
  the registry entries avoid that by content-addressing the store path
  on the corpus fingerprint (:func:`build_once`), and direct API users
  rebuilding a shared path owe their readers the same discipline.
* **Appends stage, rename, then commit** (:func:`stage_batch`,
  :func:`commit_batch`).  A batch is written to ``batches/.tmp-<uuid>``,
  renamed to ``batches/<batch_id>``, and only then listed in
  ``applied_batches`` (:func:`relation` ignores unlisted dirs).  A crash
  mid-write leaves an invisible temp dir; a crash between rename and
  commit is healed by retrying with the SAME ``batch_id`` -- the
  completed dir is adopted and committed.  A batch id stays committed
  forever (``applied_batches`` OR ``compacted_batches``,
  :func:`committed`), so a retry or a replayed streaming epoch
  (:func:`stream_batch_id`) is a no-op even after a compaction folded
  the batch and swept its dir.
* **Generations swap by manifest.**  ``os.replace`` cannot atomically
  swap non-empty directories, but a manifest that names its generation
  can: a compaction (or a refreeze/recluster) writes the next generation
  NEXT TO the live one (:func:`gen_dir`) and the manifest rewrite flips
  readers over and moves ``applied_batches`` to ``compacted_batches``
  (:func:`fold`).  A crash before the manifest write leaves orphan
  next-generation dirs; a crash after it leaves superseded dirs; neither
  is ever readable as data.  An append racing a compaction either
  commits first (its batch is folded) or re-reads the post-compaction
  manifest under the lock and lands in the fresh ``applied_batches``.
* **One grace sweep** (:func:`sweep`).  Superseded dirs are NOT removed
  at commit time: a mine that loaded the pre-compaction manifest may
  scan old-generation parquet for minutes, and an immediate delete would
  yank files mid-job.  Every generation bump first sweeps what no
  manifest references -- non-current generations, batch dirs a
  compaction already folded, and crash leftovers (``batches/.tmp-*``
  staging dirs, ``.<file>.tmp*`` JSON writes) -- once the newest mtime
  anywhere under the entry is older than :data:`GRACE_NS`.  Batch dirs
  in NEITHER manifest list are left alone: they may be an append between
  its rename and its commit.  A sweep-only compaction (no applied
  batches) is how to run the sweep on its own.
* **The registry cache** (:func:`build_once`) is content-addressed: the
  source fingerprint names the store directory, so regenerated testdata
  builds into a fresh directory instead of mutating under a reader;
  concurrent sessions build once under ``.build.lock``, and superseded
  fingerprints are pruned past the same grace window.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from contextlib import contextmanager

MANIFEST = "manifest.json"
VERSION = 1
LOCKFILE = ".store.lock"

#: Unreferenced store entries and superseded registry stores survive this
#: long before a sweep removes them.  One hour bounds any plausible
#: in-flight reader of a superseded generation and any append still
#: writing its staging dir.
GRACE_NS = 3600 * 1_000_000_000

#: Crash leftovers: ``batches/.tmp-<uuid>`` staging dirs and
#: ``.<file>.tmp-<uuid>`` JSON writes.
_LEFTOVER = re.compile(r"^\.(.+\.)?tmp(-\w+)?$")


@contextmanager
def lock(path: str, name: str = LOCKFILE):
    """Exclusive flock on ``path/name``: the store's mutator lock, or the
    registry's ``.build.lock``."""
    import fcntl

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        yield


def write_json(path: str, obj, indent: int | None = None) -> None:
    """Atomic JSON replace (tmp + ``os.replace``): a torn write is never
    readable."""
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=indent)
    os.replace(tmp, path)


def write_manifest(path: str, m: dict) -> None:
    write_json(os.path.join(path, MANIFEST), m, indent=1)


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, MANIFEST)) as f:
        m = json.load(f)
    if m.get("version") != VERSION:
        raise ValueError(
            f"store at {path}: version {m.get('version')} "
            f"!= supported {VERSION}"
        )
    return m


def gen_name(name: str, gen: int) -> str:
    """``name`` at generation 0, ``name-g<N>`` after N bumps; an
    extension stays last (``centroids.json`` -> ``centroids-g<N>.json``)."""
    if gen == 0:
        return name
    stem, ext = os.path.splitext(name)
    return f"{stem}-g{gen}{ext}"


def gen_dir(path: str, name: str, gen: int) -> str:
    return os.path.join(path, gen_name(name, gen))


def committed(m: dict) -> set:
    """Every batch id the store has EVER committed: applied dirs plus
    batches a compaction already folded into the base.  Replay guards
    check this set, not ``applied_batches`` alone: once a compaction
    folded a batch and swept its dir, a replayed id would otherwise
    re-append its rows (duplicate pairs, double-counted ``n_appended``)."""
    return set(m.get("applied_batches", [])) | set(
        m.get("compacted_batches", [])
    )


def relation(spark, path: str, m: dict, name: str):
    """The current generation's base relation plus every APPLIED batch
    directory (an unlisted batch dir is an uncommitted append)."""
    paths = [gen_dir(path, name, m.get("generation", 0))] + [
        os.path.join(path, "batches", b, name)
        for b in m.get("applied_batches", [])
    ]
    return spark.read.parquet(*paths)


def reset(path: str, names) -> None:
    """Rebuild cleanup, under the lock: drop the manifest, every batch
    dir, and every generation-suffixed entry of ``names``, so the rebuild
    writes generation 0 with nothing orphaned."""
    manifest = os.path.join(path, MANIFEST)
    if os.path.exists(manifest):
        os.remove(manifest)
    shutil.rmtree(os.path.join(path, "batches"), ignore_errors=True)
    suffixed = _family(names, r"-g\d+")
    for entry in os.listdir(path) if os.path.isdir(path) else []:
        if suffixed.match(entry):
            _remove(os.path.join(path, entry))


def stage_batch(path: str, batch_id: str, write) -> str:
    """Stage an append: ``write(tmp)`` fills a fresh temp dir, which is
    renamed to ``batches/<batch_id>``.  A dir already there (a crash
    between rename and commit) is adopted without rewriting.  Returns the
    batch dir."""
    batches = os.path.join(path, "batches")
    final = os.path.join(batches, batch_id)
    if not os.path.isdir(final):
        tmp = os.path.join(batches, f".tmp-{uuid.uuid4().hex[:12]}")
        write(tmp)
        try:
            os.rename(tmp, final)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(final):
                raise
    return final


def commit_batch(path: str, batch_id: str, book) -> dict:
    """Commit a staged batch: re-read the manifest under the lock, so a
    concurrent append or compaction committed since the caller's opening
    read is merged, not overwritten; append the id, let ``book(m)``
    update the counters, write the manifest.  A no-op returning the
    current manifest if the id is already committed."""
    with lock(path):
        m = read_manifest(path)
        if batch_id in committed(m):
            return m
        m["applied_batches"] = list(m.get("applied_batches", [])) + [
            batch_id
        ]
        book(m)
        write_manifest(path, m)
    return m


def fold(m: dict, new_gen: int, **bumps) -> None:
    """Manifest side of a generation bump: set ``generation`` (and any
    sibling counters in ``bumps``) and move ``applied_batches`` to
    ``compacted_batches``."""
    folded = list(m.get("applied_batches", []))
    m["generation"] = new_gen
    m.update(bumps)
    m["applied_batches"] = []
    m["compacted_batches"] = m.get("compacted_batches", []) + folded


def link_fold(dst: str, src_dirs: list) -> None:
    """Fold parquet relations at the FILE level: hard-link every part
    file of ``src_dirs`` into a fresh ``dst`` (copy on filesystems that
    refuse the link).  Zero data pass -- the union of the sources' rows
    IS the folded relation (ids are disjoint by append validation), and
    each source keeps the locality its own write gave it.  ``dst`` is
    cleared first so a crashed earlier fold into the same generation
    can't leave stale extras; until the manifest swap commits it, the
    dir is unreferenced and invisible to readers."""
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for i, src in enumerate(src_dirs):
        for f in sorted(os.listdir(src)):
            if not f.endswith(".parquet"):
                continue
            target = os.path.join(dst, f"f{i:04d}-{f}")
            try:
                os.link(os.path.join(src, f), target)
            except OSError:
                shutil.copy2(os.path.join(src, f), target)


def sweep(path: str, m: dict, live: dict) -> None:
    """Remove, once aged past :data:`GRACE_NS`, every store entry no
    manifest references: generations of the ``live`` families
    (``{name: current generation}``) other than the current one, batch
    dirs listed in ``compacted_batches``, and crash leftovers.  Callers
    hold the lock."""
    current = {gen_name(n, g) for n, g in live.items()}
    family = _family(live, r"(-g\d+)?")
    batches = os.path.join(path, "batches")
    for entry in _listdir(path):
        if (
            family.match(entry) and entry not in current
        ) or _LEFTOVER.match(entry):
            _remove_aged(os.path.join(path, entry))
    for b in m.get("compacted_batches", []):
        _remove_aged(os.path.join(batches, b))
    for entry in _listdir(batches):
        if _LEFTOVER.match(entry):
            _remove_aged(os.path.join(batches, entry))


def _family(names, suffix: str):
    alts = "|".join(
        re.escape(stem) + suffix + re.escape(ext)
        for stem, ext in map(os.path.splitext, names)
    )
    return re.compile(f"^(?:{alts})$")


def _listdir(path: str) -> list:
    try:
        return os.listdir(path)
    except OSError:
        return []


def _remove(p: str) -> None:
    if os.path.isdir(p):
        shutil.rmtree(p, ignore_errors=True)
    else:
        try:
            os.remove(p)
        except OSError:
            pass


def _remove_aged(p: str) -> None:
    """Remove ``p`` if the newest mtime anywhere under it is older than
    the grace window -- an entry still being written is never aged."""
    now_ns = time.time_ns()
    try:
        newest = os.stat(p).st_mtime_ns
        for root, dirs, files in os.walk(p):
            for n in dirs + files:
                newest = max(
                    newest, os.stat(os.path.join(root, n)).st_mtime_ns
                )
    except OSError:
        return  # vanished mid-walk: someone else owns it
    if now_ns - newest > GRACE_NS:
        _remove(p)


# -- streaming ----------------------------------------------------------------


def stream_batch_id(checkpoint: str, epoch_id: int) -> str:
    """Store batch id for a streaming micro-batch: the epoch id scoped
    by a stable hash of the checkpoint path.  Epoch ids are unique only
    per checkpoint LINEAGE -- a new stream (fresh checkpoint) over the
    same store restarts at epoch 0, and an unscoped ``epoch-0`` would
    collide with a previously applied id and be silently skipped as a
    replay, dropping genuinely new data.  Hashing the checkpoint path
    (not the query runId, which changes on every restart) keeps the id
    STABLE across restarts of the same checkpoint, so crash-replay
    idempotency still holds."""
    import hashlib

    lineage = hashlib.md5(
        os.path.abspath(checkpoint).encode()
    ).hexdigest()[:8]
    return f"epoch-{lineage}-{epoch_id:09d}"


def run_stream(
    stream_df,
    store_path: str,
    checkpoint: str,
    body,
    trigger: dict | None,
    await_seconds: int,
    what: str,
):
    """Drive ``stream_df`` through one ``foreachBatch`` sink: each
    non-empty micro-batch not yet committed to the store (a replayed
    epoch is skipped) runs ``body(batch_df, batch_id, manifest)``.  The
    default trigger is ``availableNow`` and the call blocks until it
    drains; any other trigger returns the live StreamingQuery for the
    caller to stop."""

    def _process(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_id = stream_batch_id(checkpoint, epoch_id)
        m = read_manifest(store_path)
        if batch_id in committed(m):
            return  # replayed epoch: already processed AND appended
        body(batch_df, batch_id, m)

    q = (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(
            **(trigger if trigger is not None else {"availableNow": True})
        )
        .start()
    )
    if trigger is not None and "availableNow" not in trigger:
        return q  # continuous run: the caller owns the stop
    if not q.awaitTermination(await_seconds):
        q.stop()
        raise RuntimeError(f"{what} did not terminate in {await_seconds}s")
    return None


# -- registry cache -----------------------------------------------------------


def part_files(src: str) -> list[str]:
    """Sorted parquet part files of the source ``src`` (recursive --
    partitioned layouts keep part files in subdirectories).  Raises on an
    empty set."""
    import glob

    parts = (
        sorted(
            glob.glob(os.path.join(src, "**", "*.parquet"), recursive=True)
        )
        if os.path.isdir(src)
        else [src]
    )
    if not parts:
        raise ValueError(f"no parquet files under {src}")
    return parts


def source_fingerprint(src: str) -> str:
    """Content fingerprint of a parquet source: every part file with its
    size and mtime_ns.  One ``os.stat`` of a Spark-written directory is
    not enough -- its size never reflects content and its mtime misses an
    in-place part rewrite with identical names."""
    import hashlib

    stats = []
    for p in part_files(src):
        st = os.stat(p)
        stats.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(stats).encode()).hexdigest()[:16]


def build_once(root: str, key: str, src: str, build, ready=None) -> str:
    """The registry's store cache: returns the store directory
    ``root/<md5(key)>/<fingerprint of src>``, building it first unless
    its manifest carries the fingerprint and passes ``ready(m)``.
    ``build(path, manifest_extra)`` runs under ``.build.lock``, and a
    session that loses the race re-checks under the lock and adopts the
    winner's store instead of overwriting it.  After a build, sibling
    fingerprint dirs past the grace window are pruned."""
    import hashlib

    fp = source_fingerprint(src)
    path = os.path.join(
        root, hashlib.md5(key.encode()).hexdigest()[:12], fp
    )

    def _ready() -> bool:
        try:
            m = read_manifest(path)
        except (OSError, ValueError):
            return False
        return m.get("corpus_fingerprint") == fp and (
            ready is None or ready(m)
        )

    if not _ready():
        with lock(path, ".build.lock"):
            if not _ready():
                build(path, {"corpus_fingerprint": fp})
        prune_stale_stores(path)
    return path


def prune_stale_stores(path: str) -> None:
    """Remove sibling fingerprint dirs of ``path`` aged past the grace
    window -- retention for the content-addressed cache (without it every
    testdata regeneration would orphan a store forever)."""
    parent = os.path.dirname(path)
    for name in _listdir(parent):
        sib = os.path.join(parent, name)
        if sib != path and os.path.isdir(sib):
            _remove_aged(sib)
