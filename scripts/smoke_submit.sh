#!/usr/bin/env bash
# spark-submit deploy-path smoke: package the engine, ship it via
# --py-files, run the resumable bucketed extraction job (north rule:
# "runs via spark-submit --py-files on multi-executor clusters").
set -euo pipefail
cd "$(dirname "$0")/.."
workdir=$(mktemp -d)
# one task slot per CPU this process may run on, as get_spark and
# bench.py size their sessions
master="local[$(nproc)]"
python - <<EOF
import shutil
shutil.make_archive("$workdir/engine", "zip", root_dir=".", base_dir="webtext_extraction_spark")
EOF
# a one-domain rule table for the hot-domain archetype, which has no
# built-in rule: it reaches the executors only through the broadcast
echo '{"blog.example": ["main"]}' > "$workdir/rules.json"
extract() {
  spark-submit --master "$master" --py-files "$workdir/engine.zip" \
    --conf spark.ui.enabled=false \
    jobs/run_extract.py --synth-convs 60 --output "$workdir/out" --num-buckets 8 \
    --rules "$workdir/rules.json"
}
# the lineage reconciles with the output: one row per bucket and
# sum(rows) equal to the data row count; the --rules table was applied
reconcile() {
  python - <<EOF
import duckdb
n, buckets, rows = duckdb.sql(
    "SELECT count(*), count(DISTINCT bucket), sum(rows) "
    "FROM read_parquet('$workdir/out/_lineage/*.parquet')"
).fetchone()
data = duckdb.sql(
    "SELECT count(*) FROM read_parquet('$workdir/out/data/*/*.parquet')"
).fetchone()[0]
assert n == buckets == 8, f"lineage rows {n}, buckets {buckets}: want one row per bucket"
assert rows == data, f"lineage sum(rows) {rows} != data rows {data}"
ruled = duckdb.sql(
    "SELECT count(*) FROM read_parquet('$workdir/out/data/*/*.parquet') "
    "WHERE strategy = 'site-rule' AND domain = 'blog.example'"
).fetchone()[0]
assert ruled > 0, "no blog.example row took the --rules site rule"
print(f"SMOKE OK: lineage of {n} buckets reconciles with {data} data rows; "
      f"{ruled} blog.example rows took the --rules site rule")
EOF
}
extract
test -d "$workdir/out/_lineage" && test -d "$workdir/out/data"
reconcile
# a second submit over the same output is a no-op
last=$(extract | tail -n 1)
python -c "import json, sys; s = json.loads(sys.argv[1]); assert s['buckets_done'] == 0, s" "$last"
reconcile
echo "SMOKE OK: rerun committed nothing ($last)"
# curation job over the driver-provided documents table (all gates on);
# its last stdout line is the JSON summary
curated=$(spark-submit --master "$master" --py-files "$workdir/engine.zip" \
  --conf spark.ui.enabled=false \
  jobs/run_curate.py --input /root/testdata/sf0.001/documents.parquet \
  --output "$workdir/curated" --lang en --min-quality 0.5 \
  --gopher-gate --gate-min-words 10 \
  --max-dup-frac 0.9 --dedup neardup --scrub-pii | tail -n 1)
test -d "$workdir/curated"
python - "$curated" <<EOF
import json, sys
import duckdb
curated = "read_parquet('$workdir/curated/*.parquet')"
n = duckdb.sql(f"SELECT count(*) FROM {curated}").fetchone()[0]
assert n > 0, "curation smoke produced zero rows"
summary = json.loads(sys.argv[1])
assert summary == {"rows": n}, f"run_curate summary {summary} != {n} parquet rows"
# the gates' internal columns (the shared word array) must not ship
cols = [r[0] for r in duckdb.sql(f"DESCRIBE SELECT * FROM {curated}").fetchall()]
want = ["doc_id", "lang", "source", "n_chars", "lang_pred", "quality",
        "dup_word_char_frac", "text", "n_email", "n_ipv4", "n_phone"]
assert cols == want, f"curated columns {cols} != {want}"
print(f"SMOKE OK: curated {n} rows ({sys.argv[1]}), columns {cols}")
EOF
rm -rf "$workdir"
