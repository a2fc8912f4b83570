"""Checks what the CDC workload delivered, with DuckDB, after the run.

For every table and every cycle k (0 is the initial load) the wanted change
events are derived independently of the engine, by diffing snapshot k-1
against snapshot k on the key: a key only in k-1 is a delete (pre-image), a
key only in k an insert, a key in both with any column changed an update
(post-image). The CSV sink must hold exactly those events as a multiset for
each cycle, with `audit_pk` dense from 1 in cycle order. Timestamps compare
at the sink's one-second precision. Every snapshot must have a unique key.
At the end, a kept log must replay to the final snapshot and the wiped log
must hold only its newest row.
"""
import duckdb

PK = "audit_pk"


def _scan(path):
    return f"read_parquet('{path}')" if path.endswith(".parquet") \
        else f"read_parquet('{path}/*.parquet')"


def _norm(col, typ):
    """A column as it must compare between parquet and the CSV sink."""
    if typ.startswith("TIMESTAMP"):
        return f"strftime({col}, '%Y-%m-%d %H:%M:%S')"
    return col


class CdcCheck:
    def __init__(self, layout):
        self.layout = layout
        self.con = duckdb.connect()

    def _columns(self, path):
        return [(r[0], r[1]) for r in self.con.execute(
            f"describe select * from {_scan(path)}").fetchall()]

    def _sink(self, table, cols):
        """The delivered rows, timestamps as normalised text."""
        types = {c: ("VARCHAR" if t.startswith("TIMESTAMP") else t) for c, t in cols}
        types.update({"audit_event": "VARCHAR", "audit_timestamp": "VARCHAR", PK: "BIGINT"})
        spec = ", ".join(f"'{c}': '{t}'" for c, t in types.items())
        q = lambda c: f'"{c}"'
        sel = ", ".join(
            f"substr(replace({q(c)}, 'T', ' '), 1, 19) as {q(c)}" if t.startswith("TIMESTAMP")
            else q(c) for c, t in cols)
        return (f"select {sel}, audit_event, audit_timestamp, {PK} from read_csv("
                f"'{table['sink']}/*.csv', header=true, quote='\"', escape='\"', "
                f"columns={{{spec}}})")

    def run(self):
        """(failed cycle -> reason, cycle -> wanted events per table,
        whole-run failure or None)."""
        bad, wanted, errors = {}, {}, []
        cycles = range(self.layout["cycles"] + 1)
        for t in self.layout["tables"]:
            name, key, snaps = t["name"], t["pk"], t["snapshots"]
            cols = self._columns(snaps[0])
            q = lambda c: f'"{c}"'
            names = ", ".join(q(c) for c, _ in cols)
            img = lambda a: ", ".join(_norm(f"{a}.{q(c)}", typ) + f" as {q(c)}" for c, typ in cols)
            dup = self.con.execute(" union all ".join(
                f"select {k} as cycle_ from {_scan(snaps[k])} group by all "
                f"having count(*) <> count(distinct {key})" for k in cycles)).fetchall()
            for (k,) in dup:
                bad[k] = f"{name}: snapshot {k} key is not unique"
            changed = " or ".join(f"p.{q(c)} is distinct from n.{q(c)}" for c, _ in cols
                                  if c != key)

            def diff(k):
                if k == 0:
                    return (f"select 0 as cycle_, {img('n')}, 'insert' as audit_event "
                            f"from {_scan(snaps[0])} n")
                p, n = _scan(snaps[k - 1]), _scan(snaps[k])
                return (f"select {k} as cycle_, {img('p')}, 'delete' as audit_event from {p} p "
                        f"anti join {n} n using ({key}) union all "
                        f"select {k}, {img('n')}, 'insert' from {n} n anti join {p} p using ({key}) "
                        f"union all select {k}, {img('n')}, 'update' from {p} p join {n} n "
                        f"on p.{key} = n.{key} where {changed}")
            self.con.execute("create or replace temp table want as " +
                             " union all ".join(diff(k) for k in cycles))
            counts = dict(self.con.execute(
                "select cycle_, count(*) from want group by cycle_").fetchall())
            upper, bounds = 0, []
            for k in cycles:
                wanted.setdefault(k, {})[name] = counts.get(k, 0)
                bounds.append((k, upper, upper + counts.get(k, 0)))
                upper += counts.get(k, 0)
            case = " ".join(f"when {PK} > {lo} and {PK} <= {hi} then {k}" for k, lo, hi in bounds)
            self.con.execute(f"create or replace temp table got as select case {case} else -1 "
                             f"end as cycle_, * from ({self._sink(t, cols)})")
            got = f"select cycle_, {names}, audit_event from got"
            for k, n in self.con.execute(
                    f"select cycle_, count(*) from (select * from want except all {got} union all "
                    f"({got} except all select * from want)) group by cycle_").fetchall():
                bad.setdefault(k, f"{name}: {n} delivered or wanted rows have no match")
            for k, rows, lo_pk, hi_pk, distinct, stamped in self.con.execute(
                    f"select cycle_, count(*), min({PK}), max({PK}), count(distinct {PK}), "
                    f"count(audit_timestamp) from got group by cycle_").fetchall():
                if k < 0:
                    errors.append(f"{name}: {rows} delivered rows match no wanted event")
                    continue
                _, lo, hi = bounds[k]
                if lo_pk != lo + 1 or hi_pk != hi or distinct != rows:
                    bad.setdefault(k, f"{name}: audit_pk is not dense above {lo}")
                elif stamped != rows:
                    bad.setdefault(k, f"{name}: audit_timestamp missing")
            log = _scan(t["log"])
            if t["wiped"]:
                n, top = self.con.execute(f"select count(*), max({PK}) from {log}").fetchone()
                if n != 1 or top != upper:
                    errors.append(f"{name}: the wiped log holds {n} rows")
            else:
                state = (f"select {img('l')} from {log} l qualify row_number() over "
                         f"(partition by {key} order by {PK} desc) = 1 "
                         f"and audit_event <> 'delete'")
                final = f"select {img('s')} from {_scan(snaps[-1])} s"
                n = self.con.execute(f"select count(*) from (({state} except all {final}) "
                                     f"union all ({final} except all {state}))").fetchone()[0]
                if n:
                    errors.append(f"{name}: replaying the log does not give the final snapshot")
        return bad, wanted, (errors[0] if errors else None)


def apply(res):
    """Fold the check into the run's op records; returns a whole-run failure."""
    layout = res["cdc"]
    bad, wanted, error = CdcCheck(layout).run()
    first = layout["first_timed"]
    wiped = next(t["name"] for t in layout["tables"] if t["wiped"])
    for k in range(first):
        if k in bad and error is None:
            error = f"set-up cycle {k}: {bad[k]}"
    for i, op in enumerate(res["ops"]):
        k = first + i
        op["rows"] = sum(wanted.get(k, {}).values())
        # the wipe faces the newest row the last wipe kept plus this cycle's events
        op["extra"]["wipe_rows_before"] = 1 + wanted.get(k, {}).get(wiped, 0)
        if op["ok"] and k in bad:
            op["ok"], op["error"] = False, bad[k]
    return error
