"""Seeded Debezium change-event generator and the expectations the ETL
checks compare against, computed here and never by the engine.

Every record is a Debezium envelope (one JSON line) for an `orders` row.
Shares are exact, not sampled, so every seed stages the same amount of
each kind of work:

  op            c 40 %, u 30 %, r 20 %, d 10 %
  status void   10 % of the non-delete records: dropped by the filter
  status held    5 % of the non-delete records: failed by the error
                 processor, so they go to the DLQ

About 1 % of the amounts are negative (refunds), so a sign flip shows.

Deletes carry only `before`, so the filter and error conditions (on
`.Payload.After.status`) never select them and they reach both
destinations.
"""
import json
import random
import struct

OP_SHARES = (("c", 40), ("u", 30), ("r", 20), ("d", 10))
OP_NAMES = {"c": "create", "u": "update", "d": "delete", "r": "snapshot"}
VOID_PCT, HELD_PCT = 10, 5
STATUSES = ("open", "paid", "shipped", "returned")
WORDS = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
         "hotel", "india", "juliet", "kilo", "lima", "mike", "november")
TAG_PREFIX = "graft-"


def _exact(rng, n, shares):
    """A shuffled list of n labels in exactly the given percent shares."""
    out = []
    for label, pct in shares:
        out += [label] * (n * pct // 100)
    out += [shares[0][0]] * (n - len(out))
    rng.shuffle(out)
    return out


class Record:
    __slots__ = ("id", "op", "cust", "status", "row")

    def __init__(self, id_, op, cust, status, row):
        self.id, self.op, self.cust, self.status, self.row = id_, op, cust, status, row

    @property
    def fate(self):
        """'drop', 'dlq' or 'dest' — where the pipeline must send it."""
        return {"void": "drop", "held": "dlq"}.get(self.status, "dest")

    def key(self):
        """The checked tuple (see checked_tuple)."""
        after = None if self.op == "d" else {"customer_id": self.cust,
                                             "amount": self.row["amount"]}
        name = OP_NAMES[self.op]
        return checked_tuple(self.id, after, name, TAG_PREFIX + name)

    def line(self, ts_ms):
        row = self.row
        before = after = None
        if self.op == "d":
            before = row
        elif self.op == "u":
            before = dict(row, status="open")
            after = row
        else:
            after = row
        env = {"schema": {}, "payload": {
            "before": before, "after": after, "op": self.op,
            "source": {"connector": "postgresql", "db": "shop", "table": "orders",
                       "lsn": str(self.id)},
            "ts_ms": ts_ms}}
        return json.dumps(env, separators=(",", ":")) + "\n"


def generate(seed, n, id_base=0):
    """n records with distinct ids, in a seeded order."""
    rng = random.Random(seed)
    ops = _exact(rng, n, OP_SHARES)
    live = [i for i, op in enumerate(ops) if op != "d"]
    status = [None] * n
    kinds = _exact(rng, len(live), (("ok", 100 - VOID_PCT - HELD_PCT),
                                    ("void", VOID_PCT), ("held", HELD_PCT)))
    for i, kind in zip(live, kinds):
        status[i] = rng.choice(STATUSES) if kind == "ok" else kind
    ids = list(range(id_base + 1, id_base + n + 1))
    rng.shuffle(ids)
    out = []
    for i in range(n):
        cust = f"C{rng.randrange(10**6):06d}"
        st = status[i] if status[i] is not None else rng.choice(STATUSES)
        row = {"id": ids[i], "cust": cust, "status": st,
               "amount": rng.randrange(-10**4, 10**6) / 100,
               "note": " ".join(rng.choice(WORDS) for _ in range(rng.randrange(4, 14)))}
        out.append(Record(ids[i], ops[i], cust, st if ops[i] != "d" else None, row))
    return out


def float_bits(v):
    """A float by its IEEE-754 bit pattern, so -0.0 and 0.0 differ."""
    return None if v is None else struct.pack(">d", float(v)).hex()


def checked_tuple(rec_id, after, operation, tag):
    """What each destination must carry per record: the id, the renamed
    customer_id, the signed amount of the after image and whether the
    after image still has its unrenamed `cust` (None for a delete), the
    mapped operation and the metadata tag."""
    if after is None:
        return (rec_id, None, None, None, operation, tag)
    return (rec_id, after.get("customer_id"), float_bits(after.get("amount")),
            "cust" in after, operation, tag)


def expectations(records):
    """Per output kind ('dest' for each destination, 'dlq', 'drop'): id →
    the checked tuple. A destination must carry each of its records once,
    with this tuple, and no other record."""
    out = {"dest": {}, "dlq": {}, "drop": {}}
    for r in records:
        out[r.fate][r.id] = r.key()
    return out
