"""Spark-free reference points measured at the same worker count.

- :func:`decode_floor_s`: the decode kernel (``_features_batch``) over a
  workload's own image blobs in ``n`` spawned processes, with no JVM, no
  Arrow exchange and no scheduling: the floor the Spark decode stage is
  judged against.
- :func:`machine_ceiling_eff`: pure-Python CPU work at 1 and ``n``
  processes, the host's own parallel-efficiency ceiling for the scaling
  mode.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import time
from multiprocessing import resource_tracker

_G: dict = {}


def _init_decode(images_path: str, ids: list[str], shard: int, shards: int):
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    t = ds.dataset(images_path).to_table(columns=["image_id", "bytes"])
    t = t.filter(pc.is_in(t.column("image_id"), value_set=pa.array(ids)))
    t = t.sort_by("image_id")
    blobs = t.column("bytes").to_pylist()[shard::shards]
    _G["series"] = pd.Series(blobs, dtype=object)


def _decode(_):
    from dagli_spark.features.image_features import _features_batch

    return len(_features_batch(_G["series"]))


def _pool_wall(ctx, n: int, initializer, initargs_for, task) -> float:
    """Wall of one ``task`` per worker after a warm-up round. Each worker
    holds its own shard; ``initargs_for(i)`` builds worker ``i``'s
    arguments, so pools are started one per worker."""
    pools = [ctx.Pool(1, initializer=initializer, initargs=initargs_for(i))
             for i in range(n)]
    try:
        for p in pools:  # warm-up: imports, page cache, first-call costs
            p.apply(task, (0,))
        t0 = time.perf_counter()
        results = [p.apply_async(task, (0,)) for p in pools]
        for r in results:
            r.get()
        return time.perf_counter() - t0
    finally:
        for p in pools:
            p.close()
            p.join()
        # the spawn context's resource tracker would otherwise outlive
        # this process: close its pipe and wait for it to exit
        resource_tracker._resource_tracker._stop()


def decode_floor_s(images_path: str, image_ids: list[str], n: int) -> float:
    ctx = mp.get_context("spawn")
    return _pool_wall(ctx, n, _init_decode,
                      lambda i: (images_path, image_ids, i, n), _decode)


def _noop_init(*_):
    pass


def _spin(_):
    x = 0
    for i in range(3_000_000):
        x += i * i
    return x


def machine_ceiling_eff(n: int) -> float:
    """Per-process throughput at ``n`` processes over that at one process."""
    ctx = mp.get_context("spawn")
    t1 = _pool_wall(ctx, 1, _noop_init, lambda i: (), _spin)
    tn = _pool_wall(ctx, n, _noop_init, lambda i: (), _spin)
    return t1 / tn
