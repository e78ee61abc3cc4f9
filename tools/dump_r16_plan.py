"""Dump plans/r16/<query>_<tag>.txt formatted plans for named queries.

Usage: python tools/dump_r16_plan.py <tag> <query>[,<query>...] [sf_dir]
"""
import os, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod
from simple_etl_pipeline_spark.operators.planaudit import formatted_plan
from simple_etl_pipeline_spark.session import get_spark

tag = sys.argv[1]
names = sys.argv[2].split(",")
sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
spark = get_spark(app_name="dump_r16_plan")
spark.sparkContext.setLogLevel("ERROR")
qs = entrymod.queries()
outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r16")
os.makedirs(outdir, exist_ok=True)
for name in names:
    df = qs[name](spark, sf_dir)
    path = os.path.join(outdir, f"{name}_{tag}.txt")
    with open(path, "w") as f:
        f.write(formatted_plan(df))
    print("wrote", path)
spark.stop()
