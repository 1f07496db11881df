"""Directory dedup-compress / restore CLI — the reference's -c/-d modes
(/root/reference/main.c:300-365) over the engine.

    python scripts/run_dirdedup.py -c <in_dir> <work_dir>   # compress
    python scripts/run_dirdedup.py -d <work_dir> <out_dir> [--check <in_dir>]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from imdedup_plus_spark import dirdedup as DD
from imdedup_plus_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    if len(args) < 3 or args[0] not in ("-c", "-d"):
        print(__doc__)
        sys.exit(2)
    spark = get_spark(app_name="dirdedup")
    spark.sparkContext.setLogLevel("ERROR")
    if args[0] == "-c":
        metrics = DD.compress(spark, args[1], args[2])
        print(json.dumps(metrics))
    else:
        n = DD.restore(spark, args[1], args[2])
        out = {"files_restored": int(n)}
        if "--check" in args:
            in_dir = args[args.index("--check") + 1]
            chk = DD.check(spark, in_dir, args[2])
            bad = chk.where("NOT byte_identical").count()
            out["check_failures"] = int(bad)
        print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
