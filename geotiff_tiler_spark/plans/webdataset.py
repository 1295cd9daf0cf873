"""WebDataset-style tar shard sink + read-back (stdlib tarfile, no deps).

The reference writes per-patch samples into WebDataset tar shards
(reference tiler.py:940-954: a sample dict {__key__, image_patch.npy,
label_patch.npy, metadata.json, <target>.npy, vectors.geojson} streamed
through wds.ShardWriter with rotation by sample count / shard size;
shard naming + size accounting at tiler.py:1097-1173). Rounds 1-2
substituted Parquet + manifest count parity; this module closes the
byte-level gap with a from-scratch writer — no webdataset dependency —
expressed Spark-first:

- the sample table is hash-partitioned by split and each task streams
  its partition into tar files, rotating at max_count / max_bytes (K2
  rotation semantics). Shard writing is embarrassingly parallel: the
  only shuffle is the split repartition, and at 100 TB you raise
  `partitions` so each task's shard set stays disk- and time-bounded.
- shard names are deterministic: {split}-{partition:05d}-{seq:04d}.tar
  (K3 naming shape); tar member metadata is zeroed (mtime/uid/gid) so a
  re-run over the same partitioning is byte-identical.
- one sample's members are contiguous and named {key}.{member}, keys
  sorted within each partition — the WebDataset convention, readable by
  any WebDataset loader.
- the writer RETURNS a registry DataFrame (split, shard, n_samples,
  size_bytes): the same accounting the manifest's shards table stores
  (A8/A9 cross-checks).

Paths are plain local/NFS paths like the reference's output_root; on an
object store, point `out_dir` at a fuse mount or swap `open()` for an
upload stream — the tar bytes themselves are already store-agnostic.
"""

from __future__ import annotations

import io
import tarfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

REGISTRY_SCHEMA = "split string, shard string, n_samples long, size_bytes long"


def npy_bytes(arr) -> bytes:
    """Serialize a numpy array into .npy container bytes (the reference's
    sample members are .npy; numpy's save format is stable and readable
    by any consumer without pickle)."""
    import numpy as np

    buf = io.BytesIO()
    np.save(buf, arr, allow_pickle=False)
    return buf.getvalue()


def _tar_add(tf: tarfile.TarFile, name: str, payload: bytes) -> None:
    info = tarfile.TarInfo(name=name)
    info.size = len(payload)
    info.mtime = 0  # deterministic bytes: no wall-clock in the archive
    info.uid = info.gid = 0
    info.uname = info.gname = ""
    tf.addfile(info, io.BytesIO(payload))


class _ShardRotator:
    """One partition's shard stream: rotate at max_count samples or
    max_bytes of payload (checked BEFORE writing a sample, so a sample's
    members never split across shards — same guarantee as wds.ShardWriter)."""

    def __init__(self, out_dir: str, split: str, pid: int, max_count: int, max_bytes: int):
        import os

        self.dir = os.path.join(out_dir, split)
        os.makedirs(self.dir, exist_ok=True)
        self.split, self.pid = split, pid
        self.max_count, self.max_bytes = max_count, max_bytes
        self.seq = -1
        self.tf = None
        self.registry: list[tuple[str, str, int, int]] = []
        self._roll()

    def _name(self) -> str:
        return f"{self.split}-{self.pid:05d}-{self.seq:04d}.tar"

    def _roll(self) -> None:
        import os

        self._close()
        self.seq += 1
        self.n = 0
        self.bytes = 0
        self.path = os.path.join(self.dir, self._name())
        self.tf = tarfile.open(self.path, "w", format=tarfile.USTAR_FORMAT)

    def _close(self) -> None:
        import os

        if self.tf is not None:
            self.tf.close()
            self.registry.append(
                (self.split, self._name(), self.n, os.path.getsize(self.path))
            )
            self.tf = None

    def write(self, key: str, members: list[tuple[str, bytes]]) -> None:
        # read_webdataset recovers the sample key via name.split('.', 1):
        # a dotted key would silently mis-split into a wrong key/member
        # pair on read-back — fail loudly at write time instead
        if "." in key:
            raise ValueError(
                f"WebDataset sample key {key!r} contains '.', which is the "
                "key/member separator — read-back would corrupt it"
            )
        size = sum(len(p) for _, p in members)
        if self.n > 0 and (self.n >= self.max_count or self.bytes + size > self.max_bytes):
            self._roll()
        for member, payload in members:
            _tar_add(self.tf, f"{key}.{member}", payload)
        self.n += 1
        self.bytes += size

    def close(self) -> list[tuple[str, str, int, int]]:
        self._close()
        # drop a trailing empty shard (rotation at an exact boundary)
        return [r for r in self.registry if r[2] > 0]


def write_webdataset(
    samples: DataFrame,
    out_dir: str,
    members: dict[str, str],
    key_col: str = "patch_key",
    split_col: str = "split",
    max_count: int = 1000,
    max_bytes: int = 64 * 1024 * 1024,
    partitions: int | None = None,
) -> DataFrame:
    """Write `samples` as WebDataset tar shards; return the shard registry.

    members: {tar member suffix -> column name}; member columns must be
    binary or string (strings are utf-8 encoded — e.g. metadata JSON).
    The returned registry is a DataFrame (REGISTRY_SCHEMA); materializing
    it drives the write (lazily planned like every sink here).
    """
    import pandas as pd
    from pyspark import TaskContext

    cols = [split_col, key_col, *members.values()]
    df = samples.select(*cols)
    df = (
        df.repartition(partitions, split_col)
        if partitions
        else df.repartition(split_col)
    )
    df = df.sortWithinPartitions(split_col, key_col)
    member_items = sorted(members.items())  # deterministic member order

    def _write(batches):
        pid = TaskContext.get().partitionId()
        rotators: dict[str, _ShardRotator] = {}
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                d = row._asdict()
                split, key = str(d[split_col]), str(d[key_col])
                rot = rotators.get(split)
                if rot is None:
                    rot = rotators[split] = _ShardRotator(
                        out_dir, split, pid, max_count, max_bytes
                    )
                payload = []
                for member, col in member_items:
                    v = d[col]
                    if isinstance(v, str):
                        v = v.encode("utf-8")
                    payload.append((member, bytes(v)))
                rot.write(key, payload)
        rows = [r for rot in rotators.values() for r in rot.close()]
        yield pd.DataFrame(rows, columns=["split", "shard", "n_samples", "size_bytes"])

    return df.mapInPandas(_write, REGISTRY_SCHEMA)


def read_webdataset(spark, out_dir: str) -> DataFrame:
    """Read tar shards back as (split, shard, key, member, payload) rows.

    Plan: binaryFile scan of the *.tar files under `out_dir`, filtered by
    name (a glob path logs a FileNotFoundException from Spark's sink-metadata
    probe); one task per shard — shards are the parallelism unit, like any
    WebDataset loader — plus an Arrow-batched untar. Used for S9-style
    read-back validation and the roundtrip tests.
    """
    import os

    import pandas as pd

    tars = {"recursiveFileLookup": "true", "pathGlobFilter": "*.tar"}
    files = spark.read.format("binaryFile").options(**tars).load(out_dir)

    def _untar(batches):
        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                shard = os.path.basename(path)
                split = os.path.basename(os.path.dirname(path))
                with tarfile.open(fileobj=io.BytesIO(bytes(content))) as tf:
                    for info in tf:
                        name = info.name
                        key, member = name.split(".", 1)
                        out.append(
                            (split, shard, key, member, tf.extractfile(info).read())
                        )
            yield pd.DataFrame(
                out, columns=["split", "shard", "key", "member", "payload"]
            )

    return files.select("path", "content").mapInPandas(
        _untar, "split string, shard string, key string, member string, payload binary"
    )


def metadata_json(df: DataFrame, cols: list[str], out: str = "metadata") -> DataFrame:
    """metadata.json member content: a canonical (sorted-key, no-space)
    JSON object of the given columns — byte-stable across engines, same
    convention as functions/geojson.py."""
    return df.withColumn(out, F.to_json(F.struct(*[F.col(c) for c in sorted(cols)])))
