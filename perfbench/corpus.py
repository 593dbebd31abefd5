"""Seeded generator of a migration repository for the migrate_cli workload.

Every migration holds one statement that embedded Derby can execute and
that the analyzer classifies; ``EXPECTED`` records the verdict the
analyzer gives each statement kind, so a run can check the analyze
output migration by migration. The same seed gives byte-identical files
and the same expectations.
"""
import os
import random

# kind -> (max_severity, sorted rule ids) as reported by `analyze --format json`
EXPECTED = {
    "create_table": ("SAFE", []),
    "create_table_int_key": ("LOW", ["prefer-bigint-key"]),
    "create_table_ts": ("LOW", ["prefer-timestamptz"]),
    "add_column": ("SAFE", []),
    "insert": ("SAFE", []),
    "drop_index": ("MEDIUM", ["drop-index-not-concurrent"]),
    "drop_column": ("MEDIUM", ["drop-column"]),
    "create_index": ("HIGH", ["create-index-not-concurrent"]),
    "add_check": ("HIGH", ["add-constraint-without-not-valid"]),
    "add_unique": ("HIGH", ["add-unique-constraint"]),
    "drop_table": ("CRITICAL", ["drop-table"]),
}

# kinds whose down migration restores the prior state exactly
REVERSIBLE = [k for k in EXPECTED if k != "drop_table"]


class _Schema:
    """The live Derby schema the generated statements evolve."""

    def __init__(self):
        self.tables = {}  # name -> {"cols", "indexes", "unique", "rows"}
        self.serial = 0

    def fresh(self, prefix):
        self.serial += 1
        return f"{prefix}{self.serial}"


def _step(kind, s, rnd):
    """Return (name, up_sql, down_sql) for one statement of ``kind``, or
    None when the schema offers no valid target for it."""
    tables = sorted(s.tables)
    if kind.startswith("create_table"):
        t = s.fresh("t")
        cols = {
            "create_table": "id BIGINT PRIMARY KEY, name VARCHAR(64), qty INTEGER",
            "create_table_int_key": "id INTEGER PRIMARY KEY, name VARCHAR(64), qty INTEGER",
            "create_table_ts": "id BIGINT PRIMARY KEY, name VARCHAR(64), qty INTEGER, created_at TIMESTAMP",
        }[kind]
        s.tables[t] = {"cols": [], "indexes": [], "unique": False, "rows": 0}
        return f"create_{t}", f"CREATE TABLE {t} ({cols});", f"DROP TABLE {t};"
    if not tables:
        return None
    t = rnd.choice(tables)
    info = s.tables[t]
    if kind == "add_column":
        c = s.fresh("c")
        info["cols"].append(c)
        return (f"add_{c}_to_{t}", f"ALTER TABLE {t} ADD COLUMN {c} INTEGER;",
                f"ALTER TABLE {t} DROP COLUMN {c};")
    if kind == "insert":
        info["rows"] += 1
        k = info["rows"]
        return (f"seed_{t}_row{k}",
                f"INSERT INTO {t} (id, name, qty) VALUES ({k}, '{t}_name_{k}', {k * 7 % 100});",
                f"DELETE FROM {t} WHERE id = {k};")
    if kind == "create_index":
        # one index per table at a time, so no two cover the same column
        free = [x for x in tables if not s.tables[x]["indexes"]]
        if not free:
            return None
        t = rnd.choice(free)
        ix = s.fresh("ix")
        s.tables[t]["indexes"].append(ix)
        return f"index_{t}_{ix}", f"CREATE INDEX {ix} ON {t} (qty);", f"DROP INDEX {ix};"
    if kind == "add_check":
        ck = s.fresh("ck")
        return (f"check_{t}_{ck}", f"ALTER TABLE {t} ADD CONSTRAINT {ck} CHECK (qty >= 0);",
                f"ALTER TABLE {t} DROP CONSTRAINT {ck};")
    if kind == "add_unique":
        # Derby refuses two constraints over the same column set
        free = [x for x in tables if not s.tables[x]["unique"]]
        if not free:
            return None
        t = rnd.choice(free)
        uq = s.fresh("uq")
        s.tables[t]["unique"] = True
        return (f"unique_{t}_{uq}", f"ALTER TABLE {t} ADD CONSTRAINT {uq} UNIQUE (name);",
                f"ALTER TABLE {t} DROP CONSTRAINT {uq};")
    if kind == "drop_index":
        owners = [x for x in tables if s.tables[x]["indexes"]]
        if not owners:
            return None
        t = rnd.choice(owners)
        ix = s.tables[t]["indexes"].pop(0)
        return f"drop_{ix}", f"DROP INDEX {ix};", f"CREATE INDEX {ix} ON {t} (qty);"
    if kind == "drop_column":
        owners = [x for x in tables if s.tables[x]["cols"]]
        if not owners:
            return None
        t = rnd.choice(owners)
        c = s.tables[t]["cols"].pop(0)
        return (f"drop_{c}_from_{t}", f"ALTER TABLE {t} DROP COLUMN {c};",
                f"ALTER TABLE {t} ADD COLUMN {c} INTEGER;")
    if kind == "drop_table":
        if len(tables) < 2:
            return None
        del s.tables[t]
        return f"drop_{t}", f"DROP TABLE {t};", None
    raise ValueError(kind)


def generate(seed, n, reversible_tail):
    """Plan ``n`` migrations; the last ``reversible_tail`` are reversible.

    Returns a list of dicts with version, name, kind, up, down and the
    expected analyzer verdict, plus the tables alive after each prefix.
    """
    rnd = random.Random(seed)
    s = _Schema()
    kinds = sorted(EXPECTED)
    plan = []
    # the first migrations create tables so later statements have targets
    head = ["create_table", "create_table_int_key", "create_table_ts"]
    i = 0
    while len(plan) < n:
        if i < len(head):
            choices = [head[i]]
        elif len(plan) < n - reversible_tail:
            # every severity at least once, then any kind
            seen = {m["severity"] for m in plan}
            choices = [k for k in kinds if EXPECTED[k][0] not in seen]
            rnd.shuffle(choices)
            # a missing MEDIUM (a drop) may first need something to drop
            choices += ["add_column", "create_index"] if choices else []
            choices.append(rnd.choice(kinds))
        else:
            choices = [rnd.choice(REVERSIBLE)]
        i += 1
        for kind in choices:
            step = _step(kind, s, rnd)
            if step is not None:
                break
        else:
            continue
        name, up, down = step
        sev, rules = EXPECTED[kind]
        plan.append({
            "version": f"{len(plan) + 1:03d}", "name": name, "kind": kind,
            "up": up, "down": down, "severity": sev, "rules": rules,
            "tables": sorted(s.tables),
        })
    return plan


def write(plan, out_dir):
    """Write the plan as V<version>_<name>.up.sql / .down.sql files."""
    os.makedirs(out_dir, exist_ok=True)
    for m in plan:
        base = os.path.join(out_dir, f"V{m['version']}_{m['name']}")
        with open(base + ".up.sql", "w") as f:
            f.write(m["up"] + "\n")
        if m["down"] is not None:
            with open(base + ".down.sql", "w") as f:
                f.write(m["down"] + "\n")
