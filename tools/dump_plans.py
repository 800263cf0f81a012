"""Dump .explain("formatted") for named queries to files.

Usage: python tools/dump_plans.py OUTDIR SUFFIX [name...]
Writes OUTDIR/<name>_<SUFFIX>.txt for each query name (every registered
query when none is named), at ``SPARK_GRAFT_SF_DIR`` (default sf0.1).

What varies from run to run or between checkouts is stripped before
writing, so ``diff -r`` of two dumps needs no post-processing:
expression ids (``#\\d+``), ``plan_id=\\d+``, ``RDD[\\d+]``, the
application id, the warehouse path and the checkout root.

Known false positives: all queries are built in one session, so a change
to one query's plan shifts the expression ids of the queries built after
it. The ``Expand`` that several distinct aggregates plan to orders its
projections by those ids, so ``text_decontaminate`` then prints
``[doc_id, shingle, null, 1]`` where it printed
``[doc_id, bench_doc, null, 1]``; ``agg_distinct_counts`` and
``gold_overnights_seasonality`` shift the same way. Dumped alone in a
fresh session, each is identical on both sides.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

NOISE = [(re.compile(p), r) for p, r in (
    (r"#\d+", "#"), (r"plan_id=\d+", "plan_id="), (r"RDD\[\d+\]", "RDD[]"),
)]


def strip_noise(text: str, literals: dict[str, str]) -> str:
    """``text`` with the run-varying ids and the ``literals`` replaced."""
    for literal, placeholder in literals.items():
        text = text.replace(literal, placeholder)
    for pattern, placeholder in NOISE:
        text = pattern.sub(placeholder, text)
    return text


def main() -> None:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)

    from bigdata_project_spark import registry
    from bigdata_project_spark.session import get_spark, stop_spark

    spark = get_spark("dump_plans")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    # the warehouse first: it usually sits under the checkout root
    literals = {
        warehouse: "<warehouse>",
        ROOT: "<root>",
        spark.sparkContext.applicationId: "<app>",
    }
    for name in names or list(registry.queries()):
        fn = registry.queries()[name]
        buf = io.StringIO()
        try:
            with redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
        except Exception as e:  # streaming drains etc. still produce a frame
            buf.write(f"\n[explain failed: {e}]\n")
        text = strip_noise(buf.getvalue(), literals)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} bytes)")
    stop_spark(spark)


if __name__ == "__main__":
    main()
