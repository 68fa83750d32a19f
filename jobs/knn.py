"""spark-submit entry for the kNN query path (SURVEY.md §3.E2).

    spark-submit --py-files engine.zip jobs/knn.py \
        --points-root /tmp/geotile_run/images --k 10 --n-queries 200
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--points-root", required=True,
                    help="icelite table of points (needs lat/lon/image_id)")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--n-queries", type=int, default=200)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--level", type=int, default=None)
    args = ap.parse_args(argv)

    import numpy as np

    from engine.session import get_spark
    from engine.geo.knn import knn_join
    from engine.icelite import IceliteTable
    from engine.localdf import local_df
    from engine.planner import choose_knn_level

    spark = get_spark(app="geotile-knn")
    pts = IceliteTable(args.points_root).scan(spark)
    n_pts = pts.count()
    level = args.level or choose_knn_level(n_pts, args.k)
    r = np.random.default_rng(args.seed)
    qs = local_df(spark, list(zip(
        range(args.n_queries),
        r.uniform(-180, 180, args.n_queries).tolist(),
        r.uniform(-85, 85, args.n_queries).tolist())),
        "qid long, lon double, lat double")
    out = knn_join(qs, pts, k=args.k, level=level)
    print(json.dumps({"result_rows": out.count(), "level": level}))


if __name__ == "__main__":
    main()
