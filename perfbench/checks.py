"""Correctness checks for the benchmark's runs.

Every function returns a list of failure messages; an empty list means
the check passed. None of them compares against a stored copy of an
earlier output: the FEC checks compare with the generator's own tallies
(fecgen.py) and with properties MERGE must have, and the catalog checks
compare with the entry's oracle SQL run by DuckDB over the same parquet,
under the strict rules of the repository's oracle checker, tools/check.py
(per-column dtype equality, floats by IEEE-754 bit pattern with NaN equal
to NaN, everything else by ==), which this module imports.
"""
import os
import sys

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check as rules  # noqa: E402


# ---------------------------------------------------------------- fec_cycle

def _state(expected_state, observed, where, classes=None):
    errs = []
    for k in ("contribution_docs", "contribution_vertices"):
        if observed.get(k) != expected_state[k]:
            errs.append(f"{where}: {k} {observed.get(k)} != {expected_state[k]}")
    for k in ("amount_sum_docs", "amount_sum_vertices"):
        if observed.get(k) != expected_state["amount_sum"]:
            errs.append(f"{where}: {k} {observed.get(k)} != "
                        f"{expected_state['amount_sum']} (generator)")
    got_keys = sorted(observed.get("expenditure_keys", []))
    if got_keys != sorted(expected_state["expenditure_keys"]):
        missing = set(expected_state["expenditure_keys"]) - set(got_keys)
        extra = set(got_keys) - set(expected_state["expenditure_keys"])
        errs.append(f"{where}: expenditure vertices differ: "
                    f"{len(missing)} missing, {len(extra)} unexpected")
    if classes is not None and observed.get("classified") != classes:
        errs.append(f"{where}: classified {observed.get('classified')} "
                    f"!= {classes}")
    return errs


def check_delta(exp, obs, where):
    """A delta: every count is the previous count plus the delta's new
    distinct keys, amended expenditures are gone and their amendments
    present."""
    errs = _state(exp, obs, where)
    if "new_docs" in obs and obs["new_docs"] != exp["new_keys"]:
        errs.append(f"{where}: new documents {obs['new_docs']} != "
                    f"new distinct keys {exp['new_keys']}")
    keys = set(obs.get("expenditure_keys", []))
    gone = [a for a in exp["amended"] if a in keys]
    absent = [a for a in exp["amendments"] if a not in keys]
    if gone:
        errs.append(f"{where}: amended expenditures still present: {gone}")
    if absent:
        errs.append(f"{where}: amendments missing: {absent}")
    return errs


def check_fec_pass(expected, p):
    """One pass of fec_cycle against the generator's tallies: the load,
    then the late-contribution delta."""
    errs = []
    if p.get("load"):
        errs += _state(expected["load"], p["load"], "load",
                       expected["load"]["classified"])
    for k, (exp, obs) in enumerate(zip(expected["deltas"], p["deltas"]), 1):
        if not (obs.get("failed") or obs.get("skipped")):
            errs += check_delta(exp, obs, f"delta {k}")
    return errs


def check_fec_finish(expected, obs):
    """The expenditure path and MERGE properties (traced runs): the
    cycle's expenditures (the last row of each amendment chain only); the
    amendment batch's result; replaying the late-contribution batch
    changed no table's row count or content digest; no keyed table
    (documents, vertices, edges) stores a key twice. A step the run had
    no time left for is absent from `obs` and not checked."""
    errs = [f"{table}: {n} keys stored more than once"
            for table, n in sorted(obs.get("duplicate_keys", {}).items()) if n]
    if "expenditures" in obs:
        if obs.get("expenditures_error"):
            errs.append("cycle expenditures failed: "
                        f"{obs['expenditures_error']}")
        errs += _state(expected["expenditures"], obs["expenditures"],
                       "cycle expenditures")
    if "amendment_batch" in obs:
        if obs.get("amendment_error"):
            errs.append(f"amendment batch failed: {obs['amendment_error']}")
        errs += check_delta(expected["deltas"][1], obs["amendment_batch"],
                            "amendment batch")
    if "digests_after_replay" in obs:
        if obs.get("replay_error"):
            errs.append(f"replay failed: {obs['replay_error']}")
        before, after = obs["digests_before_replay"], obs["digests_after_replay"]
        for t in sorted(set(before) | set(after)):
            if before.get(t) != after.get(t):
                errs.append(f"replay changed {t}: {before.get(t)} -> "
                            f"{after.get(t)}")
    return errs


# ------------------------------------------------------------------ catalog

def check_digests(passes):
    """Each entry's output is the same on every run, cold and warm."""
    errs = []
    seen = {}
    for p in passes:
        for name, e in p["entries"].items():
            for d in e["digests"]:
                if seen.setdefault(name, d) != d:
                    errs.append(f"{name}: output {d} differs from the first "
                                f"run's {seen[name]}")
    return errs


def compare_frames(name, got, exp):
    """The strict comparison of an entry's output with its oracle, by
    the rules of tools/check.py."""
    g, e = rules.canon(got), rules.canon(exp)
    if list(g.columns) != list(e.columns):
        return [f"{name}: columns {list(g.columns)} != oracle {list(e.columns)}"]
    if len(g) != len(e):
        return [f"{name}: {len(g)} rows != oracle {len(e)}"]
    for c in g.columns:
        if rules.norm_dtype(g[c].dtype) != rules.norm_dtype(e[c].dtype):
            return [f"{name}: column {c} dtype {g[c].dtype} != "
                    f"oracle {e[c].dtype}"]
    for c in g.columns:
        for i, (x, y) in enumerate(zip(g[c].tolist(), e[c].tolist())):
            if not rules.cell_eq(x, y):
                return [f"{name}: column {c} row {i}: {x!r} != oracle {y!r}"]
    return []


def oracle_frame(con, sql):
    return con.execute(sql).fetchdf()


def connect_catalog(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in rules.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con
