"""Untimed correctness check of the analytics sample: each sampled
query's check-pass output against its DuckDB oracle SQL over the same
generated tables, by tools/oracle_check.py's own comparison. The check
pass writes its results as graft.Verify does; this module adds the two
files oracle_check reads beside them and turns its per-query verdicts
into checks."""
import contextlib
import glob
import importlib.util
import io
import json
import os
import re

VERDICT = re.compile(r"^(PASS|FAIL|WARN) ([^\s:]+)")


def _oracle_check(root):
    path = os.path.join(root, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(root, sf_dir, results_dir, oracle):
    """One check per query in `oracle` (name -> SQL), plus one for
    oracle_check's own accounting: dicts with name, ok and detail, as the
    JVM side records its own checks."""
    written = [n for n in oracle if glob.glob(f"{results_dir}/{n}/*.parquet")]
    missing = sorted(set(oracle) - set(written))
    with open(os.path.join(results_dir, "oracle_sql.json"), "w") as fh:
        json.dump(oracle, fh)
    with open(os.path.join(results_dir, "verify_meta.json"), "w") as fh:
        json.dump({"n_selected": len(oracle), "n_written": len(written),
                   "failed": missing}, fh)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = _oracle_check(root).main(sf_dir, results_dir)
    lines = {}
    for line in out.getvalue().splitlines():
        m = VERDICT.match(line)
        if m:
            lines.setdefault(m.group(2), []).append(line)
    checks = []
    for name in sorted(oracle):
        said = lines.get(name, [])
        ok = bool(said) and all(s.startswith("PASS") for s in said)
        checks.append({"name": f"{name} matches the oracle", "ok": ok,
                       "detail": "" if ok else " / ".join(said) or "no verdict"})
    checks.append({"name": "oracle_check passes", "ok": code == 0,
                   "detail": "" if code == 0 else out.getvalue()[-500:]})
    return checks
