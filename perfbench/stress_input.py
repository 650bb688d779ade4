"""Build the near-duplicate corpus the dedup_graph ops run on past the
edge switch, with ``tools/scale_stress.build_stressed`` (FACTOR tagged
copies of every document and embedding, fact tables scaled alongside)
from a base table directory.

Usage: ``python3 perfbench/stress_input.py BASE_DIR OUT_DIR FACTOR``
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(base: str, out: str, factor: int) -> None:
    # scale_stress reads its source directory at import time
    os.environ["SPARK_GRAFT_SF_DIR"] = base
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import scale_stress

    from sparkenv import session, stop

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    spark = session(trace_dir=None)
    try:
        scale_stress.build_stressed(spark, factor, tmp)
    finally:
        stop(spark)
    os.replace(tmp, out)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], int(sys.argv[3]))
