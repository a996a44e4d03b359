"""Scale probe: bucket-pruned MERGE (q133/q136 path) at 10^7 snapshot
rows, closed-form contracts.

Snapshot: keys 0..N-1, val = 3*key, partitioned into 256 xxhash64
buckets.  The update batch is drawn from TWO buckets only (keys chosen
by computing their bucket and filtering — hash bucketing scatters
arbitrary keys, so a prunable batch must be selected, exactly like a
real CDC slice whose keys cluster by tenant/shard):

  * 5,000 UPDATES: existing keys get val = 3*key + 1,
  * 5,000 INSERTS: fresh keys >= N with val = 3*key + 1.

Contracts (asserted, recorded in SCALEBENCH.json):

  1. `touched` == the batch's own bucket set (2 of 256): the merge
     reads and rewrites 2/256 of the snapshot, nothing else.
  2. Untouched bucket directories are BYTE-IDENTICAL after the merge
     (file sizes + mtimes compared — 254 of 256 dirs).
  3. Closed form: count = N + 5,000; sum(val) moved by exactly
     (+1 per update) + sum(3k+1 over inserted keys); spot keys
     verified row-by-row.
  4. `merge_sec` << `snapshot_sec`: daily work is batch-sized, not
     corpus-sized (recorded, and asserted merge < snapshot/3).

Usage: python tools/scale_probe_merge.py [n_rows] [n_buckets]
Writes `merge_n{n}` into SCALEBENCH.json.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scalebench import args, finish, timed  # noqa: E402

N_UPDATES = 5_000
N_INSERTS = 5_000
TARGET_BUCKETS = (3, 7)


def main() -> int:
    n, n_buckets = args(10_000_000, 256)

    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.operators.materialize import (
        scratch_dir,
    )
    from compile_time_data_contracts_spark.session import local_session
    from compile_time_data_contracts_spark.operators.merge import (
        _bucket_of,
        merge_upsert,
        snapshot_read,
        snapshot_write,
    )

    spark = local_session("ctdc-scale-probe-merge", **{"spark.driver.memory": "16g"})

    results: dict = {"n": n, "n_buckets": n_buckets}
    path = os.path.join(scratch_dir("ctdc-probe-merge-"), "snapshot")

    base = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("val")
    )
    with timed(results, "snapshot_sec"):
        snapshot_write(base, path, "k", num_buckets=n_buckets)

    # batch keys concentrated in TARGET_BUCKETS: updates from existing
    # keys, inserts from the key space above N — both bucket-filtered
    upd_keys = [
        r.k
        for r in spark.range(0, n)
        .select(F.col("id").alias("k"))
        .filter(_bucket_of("k", n_buckets).isin(*TARGET_BUCKETS))
        .limit(N_UPDATES)
        .collect()
    ]
    ins_keys = [
        r.k
        for r in spark.range(n, n + 1000 * N_INSERTS)
        .select(F.col("id").alias("k"))
        .filter(_bucket_of("k", n_buckets).isin(*TARGET_BUCKETS))
        .limit(N_INSERTS)
        .collect()
    ]
    assert len(upd_keys) == N_UPDATES and len(ins_keys) == N_INSERTS
    batch = spark.createDataFrame(
        [(k, 3 * k + 1) for k in upd_keys + ins_keys], "k long, val long"
    )

    def dir_state(bucket: int):
        d = f"{path}/data/__bucket={bucket}"
        out = {}
        if os.path.isdir(d):
            for f in os.listdir(d):
                st = os.stat(os.path.join(d, f))
                out[f] = (st.st_size, st.st_mtime_ns)
        return out

    before = {b: dir_state(b) for b in range(n_buckets)}

    with timed(results, "merge_sec"):
        touched = merge_upsert(spark, path, batch)
    results["touched_buckets"] = touched
    results["touched_fraction"] = round(len(touched) / n_buckets, 4)

    after = {b: dir_state(b) for b in range(n_buckets)}
    untouched_identical = all(
        before[b] == after[b]
        for b in range(n_buckets)
        if b not in touched
    )
    results["untouched_dirs"] = n_buckets - len(touched)
    results["untouched_identical"] = untouched_identical

    final = snapshot_read(spark, path)
    cnt = final.count()
    results["final_count"] = cnt
    got_sum = final.agg(F.sum("val")).first()[0]
    expect_sum = (
        3 * (n * (n - 1) // 2)          # untouched base
        + len(upd_keys)                  # +1 per updated key
        + sum(3 * k + 1 for k in ins_keys)
    )
    results["sum_matches"] = int(got_sum) == expect_sum
    spot = {
        r.k: r.val
        for r in final.filter(
            F.col("k").isin(upd_keys[:3] + ins_keys[:3])
        ).collect()
    }
    results["spot_rows_match"] = all(
        spot[k] == 3 * k + 1 for k in upd_keys[:3] + ins_keys[:3]
    )

    ok = (
        sorted(touched) == sorted(TARGET_BUCKETS)
        and untouched_identical
        and cnt == n + N_INSERTS
        and results["sum_matches"]
        and results["spot_rows_match"]
        and results["merge_sec"] < results["snapshot_sec"] / 3
    )
    results["ok"] = bool(ok)
    return finish(spark, {f"merge_n{n}": results}, ok)


if __name__ == "__main__":
    raise SystemExit(main())
