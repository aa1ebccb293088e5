"""Dump `.explain("formatted")` for a list of registered queries to
<out_dir>/<query>_<tag>.txt — plan-shape evidence for a change
(before/after). Usage:

    python perf_dump_plans.py <out_dir> <tag> <query> [<query> ...]

e.g. `python perf_dump_plans.py plans/r14 before knn_topk_cosine`.

Runs at $SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS]
— the bench configuration, so plan shapes match the timed runs."""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vector_search_ner_spark import registry  # noqa: E402
from vector_search_ner_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    queries, _ = registry.collect()
    spark = get_spark("vsns-plan-dump")
    for name in names:
        df = queries[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path} ({len(buf.getvalue())} chars)")
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
