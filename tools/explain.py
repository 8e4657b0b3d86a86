"""Print the formatted physical plan of catalog entries —
the dev loop for the SCALE.md plan audits: check pushdown, exchanges,
codegen spans, and join strategies without writing a script.

Usage: python tools/explain.py [sf_dir] name [name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from virapipe_spark import catalog
from virapipe_spark.session import session


def main() -> int:
    argv = sys.argv[1:]
    catalog.load_all()
    sf_dir = "/root/testdata/sf0.01"
    if argv and os.path.isdir(argv[0]):
        sf_dir = argv.pop(0)
    if not argv:
        print(__doc__)
        return 2
    spark = session(app_name="explain", shuffle_partitions=8)
    for name in argv:
        fn = catalog.QUERIES.get(name)
        if fn is None:
            print(f"== {name}: NOT FOUND ==")
            continue
        print(f"== {name} ==")
        fn(spark, sf_dir).explain("formatted")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
