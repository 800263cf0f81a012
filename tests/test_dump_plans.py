"""``tools/dump_plans.py`` writes plans that diff across runs and checkouts."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_strip_noise_removes_run_varying_ids():
    spec = importlib.util.spec_from_file_location(
        "dump_plans", os.path.join(REPO, "tools", "dump_plans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def dump(ids: tuple[int, ...], root: str) -> str:
        a, b, c, d = ids
        return (
            f"(3) Project [l_orderkey#{a}L, n#{b}] plan_id={c} Scan ExistingRDD RDD[{d}]\n"
            f"Location: InMemoryFileIndex [file:{root}/spark-warehouse/sig/part-0]\n"
            f"/tmp/ingest/local-1700000000{a}/batch\n"
        )

    sides = []
    for ids, root in (((7, 12, 3, 40), "/a/repo"), ((107, 9, 31, 4), "/b/checkout")):
        literals = {
            f"{root}/spark-warehouse": "<warehouse>",
            root: "<root>",
            f"local-1700000000{ids[0]}": "<app>",
        }
        sides.append(mod.strip_noise(dump(ids, root), literals))
    assert sides[0] == sides[1]
    assert "l_orderkey#L" in sides[0] and "<warehouse>/sig" in sides[0]
