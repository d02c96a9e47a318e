#!/usr/bin/env python3
"""Regenerate docling_service_spark/queries/ivf2_centroids.py.

Trains the deterministic TWO-LEVEL quantizer once at sf0.01 (k=16 split
4x4 — small enough that every literal fits a static oracle, structured
enough that both hierarchy levels are non-trivial) and freezes both levels
as repr() literals, so q47's hierarchical assignment is a pure static
function of the input with a full DuckDB oracle — the same freeze recipe
as scripts/freeze_centroids.py for the flat quantizer.  Run from the repo
root:

    python3 scripts/freeze_centroids_2level.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
OUT = os.path.join("docling_service_spark", "queries", "ivf2_centroids.py")

HEADER = '''"""Frozen two-level IVF quantizer (generated by
scripts/freeze_centroids_2level.py).

Trained ONCE with the deterministic two-level trainer (queries/ann.py
train_ivf_2level: coarse Lloyd on the NumPy argmin kernel, per-cell
NumPy fine Lloyd, init = lowest vec_ids at each level, fixed iterations)
at sf0.01 with k=16 split k1=4 x k2=4, and frozen so q47's hierarchical
assignment is a pure static function of the input — full DuckDB oracle,
same recipe as the flat FROZEN_CENTROIDS.  Values are repr() round-trips: both engines
parse them to bit-identical doubles.
"""

# fmt: off
'''


def main() -> None:
    from docling_service_spark.queries.ann import IVF_ITERS, train_ivf_2level
    from docling_service_spark.sparkio.session import get_spark

    spark = get_spark(None, app_name="freeze-ivf2")
    spark.sparkContext.setLogLevel("ERROR")
    quant = train_ivf_2level(spark, SF_DIR, k=16, k1=4, iters=IVF_ITERS)
    coarse = quant.coarse
    fine = sorted(quant.fine.collect(), key=lambda r: (r["coarse"], r["fine"]))
    quant_k1, quant_k2 = quant.k1, quant.k2
    quant.unpersist()
    spark.stop()

    with open(OUT, "w") as f:
        f.write(HEADER)
        f.write(f"FROZEN2_K1 = {quant_k1}\nFROZEN2_K2 = {quant_k2}\n\n")
        f.write("FROZEN2_COARSE = [\n")
        for w in coarse:
            f.write("    [" + ", ".join(repr(float(x)) for x in w) + "],\n")
        f.write("]\n\nFROZEN2_FINE = [\n")
        for r in fine:
            f.write(f"    ({int(r['coarse'])}, {int(r['fine'])}, ["
                    + ", ".join(repr(float(x)) for x in r["w"]) + "]),\n")
        f.write("]\n")
    print(f"froze {len(coarse)} coarse + {len(fine)} fine centroids -> {OUT}")


if __name__ == "__main__":
    main()
