"""Capture .explain("formatted") for bench shapes from the bench.py registry.

Usage: python tools/capture_plans.py <outdir> [name ...]

Writes <outdir>/<name>.txt for each named shape in ``bench.SHAPES``
(default: the headline six + the spatial side block; ``image_neardup`` by
name). The builders are bench.py's own, so the captured plans are the
plans the driver times. Shapes whose operators run driver actions during
construction (knn, dbscan, embedding_topk) execute those actions here; the
captured plan is the final returned DataFrame's.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, SHAPES, SPATIAL_OPS  # noqa: E402
from geopy_spark.session import get_spark  # noqa: E402


def main() -> None:
    outdir = sys.argv[1]
    names = sys.argv[2:] or HEADLINE + SPATIAL_OPS
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plans", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        df = SHAPES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {name}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
