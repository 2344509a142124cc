#!/usr/bin/env python3
"""Randomized DML-sequence differential generator: emits N seeded
statement SEQUENCES (CREATE / INSERT VALUES / INSERT SELECT / UPDATE /
DELETE / TRUNCATE / MERGE over 2 tables, and UPDATE / DELETE whose
expressions read the OTHER table through a subquery) that graft's
GraftContext and
DuckDB must drive to identical FINAL TABLE STATE — the randomized analog
of the reference's golden DML tests (tests/statements/dml.rs), which the
SELECT-only fuzz layer (gen_fuzz.py) never touches.

Portability discipline (same contract as gen_fuzz.py, plus DML rules):
- columns are BIGINT + VARCHAR only; all arithmetic stays far from
  int64 overflow (multipliers <= 3, bounded chain depth)
- string concat uses `||` (NULL-propagating in BOTH engines; concat()
  diverges: DuckDB treats NULL as '', Spark yields NULL)
- no division anywhere; `%` only by positive constants
- MERGE INTO replays on DuckDB 1.0 (no MERGE support) as its exact
  decomposition: snapshot matched keys FIRST (NOT MATCHED is defined
  against the pre-merge target), then DELETE USING / UPDATE FROM /
  INSERT anti-join, in clause order. Merge sources GROUP BY the key so
  the one-source-row-per-target rule can never trip.
- cross-table subquery DML is the same text in both engines: an IN
  subquery's NULLs and an empty scalar subquery's NULL follow SQL
  three-valued logic in both. The subquery reads the table as the
  sequence left it, so a stale catalog view shows up as a diff.
- graft-side spellings vary on their own random stream (the DuckDB side
  and the statement mix are what they are without them): a target table
  is written bare, as "fa" or as public.fa, a MERGE target may carry an
  alias with or without AS, and a statement may lead with a comment.

Usage: gen_dml_fuzz.py <nseq> <seed> > sequences.jsonl
Each line: {"seq": i, "tables": ["fa","fb"], "graft": [...], "duck": [...]}
"""
import json
import random
import sys

COLS = ["id", "a", "b", "s"]
# Pool entries are the text between the quotes of a SQL literal, so
# `it''s` reads as it's in both engines. The rest put a statement
# separator, a keyword, a comment marker and two non-ASCII characters
# inside literals (U+FF5E sorts before U+1F600 in UTF-8 byte order, after
# it in UTF-16). Backslashes stay out: DuckDB reads them literally.
STRPOOL = ["alpha", "beta", "gamma", "delta", "x", "yz", "longish_value", "",
           "it''s", "a;b", "x WHERE y", "-- no", "\uff5e", "\U0001f600"]


class Plain:
    """Canonical graft-side spellings: every choice takes its first option."""
    @staticmethod
    def choice(options):
        return options[0]


class Gen:
    def __init__(self, rnd, seq, sp=Plain):
        self.rnd = rnd
        self.sp = sp  # graft-side spellings only
        self.seq = seq
        self.next_id = {"fa": 1, "fb": 1}
        self.merge_n = 0
        # schema evolution state: live ADDed columns per table as
        # (name, 'I'|'S'). Names are NEVER reused after a drop — graft
        # deliberately refuses re-adding a dropped name (retention
        # hazard), so the generator allocates monotonically.
        self.extra = {"fa": [], "fb": []}
        self.colctr = 0

    # --- scalar fragments --------------------------------------------------

    def lit_s(self):
        if self.rnd.random() < 0.12:
            return "NULL"
        return "'%s'" % self.rnd.choice(STRPOOL)

    def lit_i(self):
        if self.rnd.random() < 0.10:
            return "NULL"
        return str(self.rnd.randint(-50, 999))

    def int_expr(self, alias=""):
        p = alias + "." if alias else ""
        c = self.rnd.choice([p + "a", p + "b", p + "id"])
        return self.rnd.choice([
            "%s + %d" % (c, self.rnd.randint(1, 40)),
            "%s - %d" % (c, self.rnd.randint(1, 40)),
            "%s * %d" % (c, self.rnd.choice([2, 3])),
            "%s %% %d" % (c, self.rnd.choice([5, 7, 11, 97])),
            "abs(%s) %% %d" % (c, self.rnd.choice([13, 101])),
            "CASE WHEN %s > %d THEN %s ELSE %d END"
            % (c, self.rnd.randint(-10, 500), self.rnd.choice([p + "a", p + "b"]),
               self.rnd.randint(-20, 20)),
        ])

    def str_expr(self, alias=""):
        p = alias + "." if alias else ""
        return self.rnd.choice([
            "%ss || '_%d'" % (p, self.rnd.randint(0, 9)),
            "upper(%ss)" % p,
            "substr(%ss, 1, %d)" % (p, self.rnd.randint(1, 4)),
            "%ss" % p,
            self.lit_s(),
        ])

    def pred(self, alias=""):
        p = alias + "." if alias else ""
        c = self.rnd.choice([p + "a", p + "b", p + "id"])
        atoms = [
            "%s %s %d" % (c, self.rnd.choice(["<", "<=", ">", ">=", "=", "<>"]),
                          self.rnd.randint(-40, 600)),
            "%s %% %d = %d" % (c, self.rnd.choice([2, 3, 5, 7]),
                               self.rnd.randint(0, 2)),
            "%s IN (%s)" % (c, ", ".join(str(self.rnd.randint(-5, 60))
                                         for _ in range(self.rnd.randint(1, 4)))),
            "%s IS NULL" % self.rnd.choice([p + "a", p + "b", p + "s"]),
            "%s IS NOT NULL" % self.rnd.choice([p + "a", p + "s"]),
            "%ss LIKE '%s%%'" % (p, self.rnd.choice(["a", "b", "g", "lo", "x"])),
            "%ss %s '%s'" % (p, self.rnd.choice(["<", "<=", ">", ">=", "=", "<>"]),
                             self.rnd.choice(STRPOOL)),
        ]
        n = self.rnd.randint(1, 2)
        parts = [self.rnd.choice(atoms) for _ in range(n)]
        if n == 1:
            return parts[0]
        return ("(%s) %s (%s)") % (parts[0], self.rnd.choice(["AND", "OR"]), parts[1])

    # --- statements (return (graft_stmts, duck_stmts)) ----------------------

    def spell(self, t):
        return self.sp.choice([t, '"%s"' % t, "public." + t])

    def pair(self, fmt, t, *rest):
        """`fmt` with target table `t` first: graft's spelling, DuckDB's."""
        lead = self.sp.choice(["", "/* c */ "])
        return [lead + fmt % ((self.spell(t),) + rest)], [fmt % ((t,) + rest)]

    def values_row(self, t):
        # ids mostly unique per table, occasional duplicate for realism
        if self.rnd.random() < 0.15 and self.next_id[t] > 1:
            i = self.rnd.randint(1, self.next_id[t] - 1)
        else:
            i = self.next_id[t]
            self.next_id[t] += 1
        return "(%d, %s, %s, %s)" % (i, self.lit_i(), self.lit_i(), self.lit_s())

    def ins_values(self, t):
        # 40% of inserts into an evolved table carry the added columns
        # explicitly; the rest leave them to NULL-fill (both engines)
        extras = list(self.extra[t]) if self.rnd.random() < 0.4 else []
        cols = "id, a, b, s" + "".join(", " + c for c, _ in extras)
        def row():
            base = self.values_row(t)
            ext = "".join(", " + (self.lit_i() if ty == "I" else self.lit_s())
                          for _, ty in extras)
            return base[:-1] + ext + ")"
        rows = ", ".join(row() for _ in range(self.rnd.randint(1, 5)))
        return self.pair("INSERT INTO %s (%s) VALUES %s", t, cols, rows)

    def add_column(self, t):
        self.colctr += 1
        ty = self.rnd.choice(["I", "S"])
        name = "c%d" % self.colctr
        self.extra[t].append((name, ty))
        return self.pair("ALTER TABLE %s ADD COLUMN %s %s",
                         t, name, "BIGINT" if ty == "I" else "VARCHAR")

    def drop_column(self, t):
        # only ever drops ADDed columns (base columns stay referenced by
        # later statements); graft hides retained bytes, DuckDB rewrites —
        # final SELECT * agrees either way
        if not self.extra[t]:
            return self.ins_values(t)
        i = self.rnd.randrange(len(self.extra[t]))
        name, _ = self.extra[t].pop(i)
        return self.pair("ALTER TABLE %s DROP COLUMN %s", t, name)

    def ins_select(self, t, o):
        off = self.rnd.randint(1000, 9000)
        return self.pair("INSERT INTO %s (id, a, b, s) SELECT id + %d, %s, %s, %s FROM %s WHERE %s",
                         t, off, self.int_expr(), self.int_expr(), self.str_expr(), o, self.pred())

    def update(self, t):
        sets = []
        for c in self.rnd.sample(["a", "b", "s"], self.rnd.randint(1, 2)):
            sets.append("%s = %s" % (c, self.str_expr() if c == "s" else self.int_expr()))
        # evolved columns get updated too (expression RHS for ints so the
        # post-ADD backfill path is exercised, literal for strings)
        if self.extra[t] and self.rnd.random() < 0.5:
            name, ty = self.rnd.choice(self.extra[t])
            sets.append("%s = %s" % (name, self.int_expr() if ty == "I" else self.lit_s()))
        return self.pair("UPDATE %s SET %s WHERE %s", t, ", ".join(sets), self.pred())

    def delete(self, t):
        return self.pair("DELETE FROM %s WHERE %s", t, self.pred())

    def delete_in(self, t, o):
        return self.pair("DELETE FROM %s WHERE id IN (SELECT id FROM %s WHERE %s)",
                         t, o, self.pred())

    def update_sub(self, t, o):
        c = self.rnd.choice(["a", "b"])
        return self.pair("UPDATE %s SET %s = (SELECT max(%s) FROM %s) WHERE %s",
                         t, c, self.rnd.choice(["a", "b"]), o, self.pred())

    def truncate(self, t):
        return self.pair("TRUNCATE TABLE %s", t)[0], ["TRUNCATE %s" % t]

    def merge(self, t, o):
        self.merge_n += 1
        j = self.merge_n
        # source: keyed + deduped (GROUP BY id) so the one-source-row rule
        # can never trip; NULL keys excluded (IN/NOT IN replay safety)
        src_pred = self.pred()
        src = ("SELECT id, min(a) AS ma, max(b) AS mb FROM %s "
               "WHERE id IS NOT NULL AND (%s) GROUP BY id" % (o, src_pred))
        kind = self.rnd.choice(["upsert", "update", "delete", "full"])
        del_cond = "u.ma %% %d = 0" % self.rnd.choice([2, 3])
        # conditional UPDATE half the time: clause-order semantics (rows
        # taken by an earlier DELETE clause never reach UPDATE; a NULL
        # condition skips the clause) replay exactly as the decomposition
        # below because the DELETE physically removes its rows first
        upd_cond = ("u.mb %% %d <> 1" % self.rnd.choice([3, 5])
                    if self.rnd.random() < 0.5 else None)
        upd_rhs = self.rnd.choice(["u.mb", "%s.b + 1", "u.ma + u.mb"])
        upd_set = "a = u.ma, b = %s" % (upd_rhs.replace("%s", t))
        # graft's target: its spelling, and an alias (with or without AS)
        # that the ON condition and SET then name it by
        alias = self.sp.choice([None, "tt"])
        ref = alias or t
        target = self.spell(t) + ("" if alias is None else self.sp.choice([" AS ", " "]) + alias)
        g_set = "a = u.ma, b = %s" % (upd_rhs.replace("%s", ref))
        ins = "(id, a, b, s) VALUES (u.id, u.ma, u.mb, 'm%d')" % j
        clauses, duck = [], []
        duck.append("CREATE TEMP TABLE __src_%d AS %s" % (j, src))
        duck.append("CREATE TEMP TABLE __mids_%d AS SELECT DISTINCT s.id AS id "
                    "FROM __src_%d s JOIN %s ON %s.id = s.id" % (j, j, t, t))
        if kind in ("delete", "full"):
            clauses.append("WHEN MATCHED AND %s THEN DELETE" % del_cond)
            duck.append("DELETE FROM %s USING __src_%d u WHERE %s.id = u.id AND (%s)"
                        % (t, j, t, del_cond))
        if kind in ("update", "upsert", "full"):
            if upd_cond:
                clauses.append("WHEN MATCHED AND %s THEN UPDATE SET %s"
                               % (upd_cond, g_set))
                duck.append("UPDATE %s SET %s FROM __src_%d u WHERE %s.id = u.id AND (%s)"
                            % (t, upd_set, j, t, upd_cond))
            else:
                clauses.append("WHEN MATCHED THEN UPDATE SET %s" % g_set)
                duck.append("UPDATE %s SET %s FROM __src_%d u WHERE %s.id = u.id"
                            % (t, upd_set, j, t))
        if kind in ("upsert", "full"):
            clauses.append("WHEN NOT MATCHED THEN INSERT %s" % ins)
            duck.append("INSERT INTO %s (id, a, b, s) SELECT u.id, u.ma, u.mb, 'm%d' "
                        "FROM __src_%d u WHERE u.id NOT IN (SELECT id FROM __mids_%d)"
                        % (t, j, j, j))
            self.next_id[t] = max(self.next_id[t], self.next_id[o] + 1)
        g = self.sp.choice(["", "/* c */ "]) + "MERGE INTO %s USING (%s) AS u ON %s.id = u.id %s" % (
            target, src, ref, " ".join(clauses))
        duck.append("DROP TABLE __src_%d" % j)
        duck.append("DROP TABLE __mids_%d" % j)
        return [g], duck


def gen_sequence(rnd, seq, sp):
    g = Gen(rnd, seq, sp)
    tables = ["fa", "fb"]
    graft, duck = [], []
    for t in tables:
        gs, ds = g.pair("CREATE TABLE %s (id BIGINT, a BIGINT, b BIGINT, s VARCHAR)", t)
        graft += gs
        duck += ds
        for _ in range(rnd.randint(1, 3)):
            gs, ds = g.ins_values(t)
            graft += gs
            duck += ds
    for _ in range(rnd.randint(5, 10)):
        t = rnd.choice(tables)
        o = "fb" if t == "fa" else "fa"
        op = rnd.choices(
            ["ins_values", "ins_select", "update", "delete", "truncate", "merge",
             "add_column", "drop_column", "delete_in", "update_sub"],
            weights=[20, 14, 22, 16, 4, 15, 6, 3, 10, 10])[0]
        if op == "ins_values":
            gs, ds = g.ins_values(t)
        elif op == "ins_select":
            gs, ds = g.ins_select(t, o)
        elif op == "update":
            gs, ds = g.update(t)
        elif op == "delete":
            gs, ds = g.delete(t)
        elif op == "truncate":
            gs, ds = g.truncate(t)
        elif op == "delete_in":
            gs, ds = g.delete_in(t, o)
        elif op == "update_sub":
            gs, ds = g.update_sub(t, o)
        elif op == "add_column":
            gs, ds = g.add_column(t)
        elif op == "drop_column":
            gs, ds = g.drop_column(t)
        else:
            gs, ds = g.merge(t, o)
        graft += gs
        duck += ds
    return {"seq": seq, "tables": tables, "graft": graft, "duck": duck}


def main():
    n, seed = int(sys.argv[1]), int(sys.argv[2])
    rnd = random.Random(seed)
    for i in range(n):
        print(json.dumps(gen_sequence(rnd, i, random.Random("spell-%d-%d" % (seed, i)))))


if __name__ == "__main__":
    main()
