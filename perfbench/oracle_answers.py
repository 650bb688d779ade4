"""Compute DuckDB's answer to each oracle query and pickle it, in a
process of its own so that DuckDB's memory never shows in the
benchmark driver's peak RSS.

Usage: ``python3 perfbench/oracle_answers.py JOBS_JSON``, where the
file maps each output path to ``[table_dir, sql]``.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(jobs_file: str) -> None:
    sys.path.insert(0, ROOT)
    from distributed_computing_projects_spark.verify import duck_con

    with open(jobs_file) as f:
        jobs = json.load(f)
    cons = {}
    for path, (sf_dir, sql) in jobs.items():
        if sf_dir not in cons:
            cons[sf_dir] = duck_con(sf_dir)
        cons[sf_dir].execute(sql).fetchdf().to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
    for con in cons.values():
        con.close()


if __name__ == "__main__":
    main(sys.argv[1])
