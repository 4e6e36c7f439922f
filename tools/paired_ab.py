"""Same-JVM PAIRED alternating A/B (round-12 second sitting).

One Spark session; the two trees' query functions are swapped in by
sys.modules purge + re-import, and each rep measures A then B
back-to-back (seconds apart, same noise climate), order alternated per
rep. Reports per-rep pairs plus the median of per-rep B/A ratios and
per-variant minimums — the estimator that stays usable when host-noise
storms make fresh-JVM batch comparison unresolvable (see BASELINE.md
round-12 second-sitting notes: 1-minute load 93 on an empty process
table mid-measurement).

Usage: python tools/paired_ab.py TREE_A TREE_B q1,q2,... reps [out.json]
"""
import gc
import json
import os
import sys
import time

PKG = "music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark"
TREE_A, TREE_B, ONLY, REPS = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
OUT = sys.argv[5] if len(sys.argv) > 5 else "/tmp/paired_ab.json"
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_tree(tree):
    for m in [k for k in list(sys.modules)
              if k == PKG or k.startswith(PKG + ".") or k == "__spark_entry__"]:
        del sys.modules[m]
    sys.path[:] = [p for p in sys.path
                   if p not in (TREE_A, TREE_B)]
    sys.path.insert(0, tree)
    import __spark_entry__ as e
    return e.queries()


def calib():
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return round(time.perf_counter() - t0, 4)


qa = load_tree(TREE_A)
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.session import get_spark  # noqa: E402

spark = get_spark("paired_ab")
sc = spark.sparkContext
names = [n for n in ONLY.split(",")]

# warmup: run each query once from tree A (fixtures, JIT, python workers)
for n in names:
    qa[n](spark, SF).write.format("noop").mode("overwrite").save()
spark.catalog.clearCache()

res = {n: {"a": [], "b": [], "calib": []} for n in names}
for rep in range(REPS):
    for n in names:
        pair = {}
        order = (("a", TREE_A), ("b", TREE_B)) if rep % 2 == 0 \
            else (("b", TREE_B), ("a", TREE_A))
        for tag, tree in order:
            qs = load_tree(tree)
            gc.collect()
            sc._jvm.System.gc()
            c0 = calib()
            sc.setJobDescription(f"paired:{n}:{tag}:{rep}")
            t0 = time.perf_counter()
            df = qs[n](spark, SF)
            df.write.format("noop").mode("overwrite").save()
            pair[tag] = round(time.perf_counter() - t0, 3)
            sc.setJobDescription(None)
            spark.catalog.clearCache()
            for t in spark.catalog.listTables():
                if t.name.startswith("_") and t.isTemporary:
                    spark.catalog.dropTempView(t.name)
            res[n]["calib"].append(c0)
        res[n]["a"].append(pair["a"])
        res[n]["b"].append(pair["b"])
        print(f"rep {rep} {n:28s} A {pair['a']:7.2f}  B {pair['b']:7.2f}  "
              f"B/A {pair['b'] / pair['a']:.3f}", flush=True)

for n in names:
    ratios = sorted(b / a for a, b in zip(res[n]["a"], res[n]["b"]))
    med = ratios[len(ratios) // 2]
    res[n]["median_ratio"] = round(med, 3)
    res[n]["min_a"], res[n]["min_b"] = min(res[n]["a"]), min(res[n]["b"])
    print(f"{n:28s} median B/A {med:.3f}   min A {res[n]['min_a']:.2f} "
          f"min B {res[n]['min_b']:.2f}", flush=True)
with open(OUT, "w") as fh:
    json.dump(res, fh, indent=1)
print("wrote", OUT)
spark.stop()
