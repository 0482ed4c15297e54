#!/usr/bin/env python
"""Single-core microbenchmark of kernels.fingerprints (the bands stage
hot kernel): throughput vs batch_bytes, to size the strip-mined batch so
its working set stays cache-resident.  Runs the blocking configuration
(blocking.NDIM dimensions over blocking.FP_WIDTHS).
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import numpy as np

from sz_spark import kernels as K
from sz_spark.blocking import FP_SEED, FP_WIDTHS, NDIM

rng = np.random.default_rng(0)
# synthetic docs shaped like the probe's canonical docs (~500 bytes)
texts = []
for i in range(4000):
    n = int(rng.integers(300, 700))
    texts.append(bytes(rng.integers(97, 123, size=n, dtype=np.uint8)))
total = sum(len(t) for t in texts)

for bb_log in (24, 22, 21, 20, 19, 18):
    t0 = time.time()
    h, _ = K.fingerprints(
        texts, ndim=NDIM, widths=FP_WIDTHS, seed=FP_SEED,
        batch_bytes=1 << bb_log, with_counts=False,
    )
    dt = time.time() - t0
    print(f"batch_bytes=2^{bb_log}: {dt:.2f}s  {total / dt / 1e6:.2f} MB/s  "
          f"checksum={int(h.astype(np.uint64).sum())}")
