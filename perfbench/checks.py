"""Output checks of the workloads whose outputs land in files. Each check
returns a list of (name, ok, detail) and compares against an independent
computation or a property of the method, never against a stored output."""
import csv
import glob
import hashlib
import importlib.util
import json
import math
import os

# metric -> (low, high) per the definitions in graft.metrics.FairnessMetrics.
# eq_odds has no upper bound of 1: like the reference, its "FPR" divides the
# false positives by the predicted negatives, which can be fewer.
METRIC_RANGES = {
    "acc": (0.0, 1.0),
    "disp_imp": (0.0, 1.0),
    "eq_odds": (0.0, math.inf),
    "stat_par": (-1.0, 1.0),
    "zero_one_loss": (0.0, math.inf),
}


def read_metrics_csv(path):
    """Rows of a Spark-written CSV directory (header in each part file)."""
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(part, newline="") as fh:
            rows.extend(csv.DictReader(fh))
    return rows


def fairness_round(round_dir, methods, folds, features=2, classifier="logistic"):
    """Checks of one round of GenerateMetrics outputs under `round_dir`."""
    checks = []
    for m in methods:
        path = os.path.join(round_dir, f"{features}features",
                            f"metrics_compas_{m}_{features}_features_{classifier}.csv")
        rows = read_metrics_csv(path)
        checks.append((f"fairness-cv: {m} wrote one row per fold", len(rows) == folds,
                       f"{path}: {len(rows)} rows, want {folds}"))
        bad = []
        for i, r in enumerate(rows):
            if set(r) != set(METRIC_RANGES):
                bad.append(f"row {i} columns {sorted(r)}")
                continue
            for k, (lo, hi) in METRIC_RANGES.items():
                try:
                    v = float(r[k])
                except ValueError:
                    v = math.nan
                if not (math.isfinite(v) and lo <= v <= hi):
                    bad.append(f"row {i} {k}={r[k]}")
        checks.append((f"fairness-cv: {m} metrics finite and in range", not bad,
                       "; ".join(bad[:5])))
    return checks


def fairness(out_dir, rounds, methods, folds):
    checks = []
    for i in range(rounds):
        checks += fairness_round(os.path.join(out_dir, f"r{i}"), methods, folds)
    return checks


def _oracle_check_module(root):
    """tools/oracle_check.py of the checkout: its canonicalisation is the one
    the engine's correctness gate uses."""
    path = os.path.join(root, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _oracle_rows(con, sql, name, cache_dir, cached_inputs):
    """Columns and rows of `sql`. When the oracle reads only one input column
    (`cached_inputs[name]` = (table, column)), its result is cached under
    `cache_dir`, keyed by the SQL and that column's values."""
    if name not in cached_inputs or not cache_dir:
        res = con.execute(sql)
        return [c[0] for c in res.description], res.fetchall()
    table, column = cached_inputs[name]
    h = hashlib.sha256(sql.encode())
    for (v,) in con.execute(f"SELECT {column} FROM {table} ORDER BY {column}").fetchall():
        h.update(repr(v).encode())
    path = os.path.join(cache_dir, f"{name}-{h.hexdigest()}.json")
    if os.path.exists(path):
        with open(path) as fh:
            got = json.load(fh)
        return got["cols"], [tuple(r) for r in got["rows"]]
    res = con.execute(sql)
    cols, rows = [c[0] for c in res.description], res.fetchall()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"cols": cols, "rows": rows}, fh)
    os.replace(tmp, path)
    return cols, rows


def queries(root, data_dir, dump_dir, names, skip=(), threads=1, tmp_dir=None,
            cache_dir=None, cached_inputs=None):
    """Each dumped query result against DuckDB's result for its oracle SQL on
    the same tables; a query without oracle SQL must hold one row per input
    document."""
    import duckdb
    canon = _oracle_check_module(root).canon
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='2GB'")
    if tmp_dir:
        con.execute(f"SET temp_directory='{tmp_dir}'")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    checks = []
    for name in names:
        if name in skip:
            continue
        files = sorted(glob.glob(os.path.join(dump_dir, name, "*.parquet")))
        label = f"query-mix: {name} matches its oracle"
        if not files:
            checks.append((label, False, "no result written"))
            continue
        rel = con.execute(f"SELECT * FROM read_parquet({files!r})")
        got_cols = [c[0] for c in rel.description]
        got = rel.fetchall()
        if name not in oracle:
            # no engine-independent oracle on this data: the result must
            # hold one row per input document
            label = f"query-mix: {name} has one row per document (no oracle)"
            if "doc_id" not in got_cols:
                checks.append((label, False, f"no doc_id column in {got_cols}"))
                continue
            i = got_cols.index("doc_id")
            ids = sorted(r[i] for r in got)
            want_ids = [r[0] for r in con.execute(
                "SELECT doc_id FROM documents ORDER BY doc_id").fetchall()]
            checks.append((label, ids == want_ids,
                           f"{len(ids)} rows for {len(want_ids)} documents"))
            continue
        want_cols, want = _oracle_rows(con, oracle[name], name, cache_dir, cached_inputs or {})
        gc, g = canon(got, got_cols)
        wc, w = canon(want, want_cols)
        if gc != wc:
            checks.append((label, False, f"columns {gc} vs oracle {wc}"))
        elif len(g) != len(w):
            checks.append((label, False, f"{len(g)} rows vs oracle {len(w)}"))
        else:
            bad = [(a, b) for a, b in zip(g, w) if a != b]
            checks.append((label, not bad,
                           f"{len(bad)}/{len(g)} rows differ; first {bad[0][0]} vs {bad[0][1]}"
                           if bad else ""))
    return checks
