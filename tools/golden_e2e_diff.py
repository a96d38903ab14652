"""Exploratory diff: full pipeline over reassembled mainnet LCMs vs the
reference's effects / token_transfers / ledger_transactions goldens.

Usage: python tools/golden_e2e_diff.py [effects|tokens|ledgertx]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.golden_lcm import golden_rows, write_golden_ledger_dir  # noqa: E402


def build_silver(spark):
    from stellar_etl_spark.sources.bronze import (
        decode_ledger_files,
        read_ledger_files,
    )
    from stellar_etl_spark.sources.silver import (
        decode_ledgers,
        decode_operations,
        decode_transactions,
    )

    d = tempfile.mkdtemp(prefix="golden_lcm_")
    write_golden_ledger_dir(d)
    bronze = decode_ledger_files(read_ledger_files(spark, d)).cache()
    return (
        decode_transactions(bronze),
        decode_operations(bronze),
        decode_ledgers(bronze),
    )


def diff_effects(spark) -> int:
    from stellar_etl_spark.transforms.effects import transform_effects

    _, ops, _ = build_silver(spark)
    eff = transform_effects(ops).collect()
    mine = {r["id"]: r.asDict() for r in eff}

    golden = {}
    for row in golden_rows("effects"):
        golden[row["id"]] = row

    missing = [k for k in golden if k not in mine]
    extra = [k for k in mine if k not in golden and int(k.split("-")[0]) >> 32 in
             {r["ledger_sequence"] for r in golden.values()}]
    print(f"golden={len(golden)} mine={len(mine)} missing={len(missing)} extra-in-golden-ledgers={len(extra)}")
    for k in missing[:10]:
        print("MISSING", k, golden[k]["type_string"], json.dumps(golden[k]["details"])[:150])
    for k in extra[:10]:
        print("EXTRA  ", k, mine[k]["type_string"])

    bad = 0
    for k in sorted(set(golden) & set(mine)):
        g, m = golden[k], mine[k]
        for field in ("type", "type_string", "address", "operation_id", "ledger_sequence"):
            gv, mv = g.get(field), m.get(field)
            if field == "operation_id":
                gv, mv = int(gv), int(mv)
            if gv != mv:
                bad += 1
                print("FIELD", k, field, "golden", gv, "mine", mv)
                break
        else:
            gm = g.get("address_muxed")
            mm = m.get("address_muxed")
            if gm != mm:
                bad += 1
                print("MUXED", k, "golden", gm, "mine", mm)
                continue
            gd = g.get("details") or {}
            md = json.loads(m.get("details") or "{}")
            if not details_equal(gd, md):
                bad += 1
                print("DETAILS", k, g["type_string"])
                print("  golden", json.dumps(gd, sort_keys=True)[:300])
                print("  mine  ", json.dumps(md, sort_keys=True)[:300])
    print("value-mismatches:", bad)
    return len(missing) + len(extra) + bad


def details_equal(g, m) -> bool:
    if isinstance(g, dict) and isinstance(m, dict):
        if set(g) != set(m):
            return False
        return all(details_equal(g[k], m[k]) for k in g)
    if isinstance(g, list) and isinstance(m, list):
        return len(g) == len(m) and all(
            details_equal(a, b) for a, b in zip(g, m)
        )
    if isinstance(g, float) or isinstance(m, float):
        try:
            return abs(float(g) - float(m)) <= 1e-9 * max(1.0, abs(float(g)))
        except (TypeError, ValueError):
            return False
    return g == m


def diff_tokens(spark) -> int:
    from stellar_etl_spark.transforms.token_events import (
        derive_token_transfer_events,
    )
    from stellar_etl_spark.transforms.token_transfer import (
        transform_token_transfer,
    )

    txs, ops, _ = build_silver(spark)
    ev = derive_token_transfer_events(ops, txs)
    out = transform_token_transfer(ev).collect()

    def key(topic, op_id, frm, to, asset, amount_raw):
        return (topic, op_id and int(op_id), frm, to, asset, str(amount_raw))

    mine = {}
    for r in out:
        d = r.asDict()
        mine.setdefault(
            key(d.get("event_topic"), d.get("operation_id"), d.get("from")
                or d.get("from_address"), d.get("to") or d.get("to_address"),
                d.get("asset"), d.get("amount_raw")),
            []
        ).append(d)

    golden = {}
    for row in golden_rows("token_transfers"):
        golden.setdefault(
            key(row["event_topic"], row["operation_id"], row["from"],
                row["to"], row["asset"], row["amount_raw"]),
            []
        ).append(row)

    gonly = {k: v for k, v in golden.items() if len(mine.get(k, [])) < len(v)}
    monly = {k: v for k, v in mine.items() if len(golden.get(k, [])) < len(v)}
    print(f"golden={sum(len(v) for v in golden.values())} mine={sum(len(v) for v in mine.values())}")
    print(f"golden-only keys={len(gonly)} mine-only keys={len(monly)}")
    import collections
    c = collections.Counter(k[0] for k in gonly)
    print("golden-only by topic:", dict(c))
    for k in list(gonly)[:8]:
        print("G-ONLY", k)
    for k in list(monly)[:8]:
        print("M-ONLY", k)
    return len(gonly) + len(monly)


def diff_ops(spark) -> int:
    from stellar_etl_spark.transforms.operation import transform_operation

    _, ops, ledgers = build_silver(spark)
    out = transform_operation(ops).collect()
    mine = {int(r["id"]): r.asDict() for r in out}
    seqs = {r["sequence"] for r in ledgers.select("sequence").collect()}

    golden = {
        int(row["id"]): row
        for row in golden_rows("operations")
        if row["ledger_sequence"] in seqs
    }
    missing = [k for k in golden if k not in mine]
    extra = [
        k for k, m in mine.items()
        if k not in golden and (k >> 32) in seqs
    ]
    print(f"golden={len(golden)} mine={len(mine)} missing={len(missing)} extra={len(extra)}")
    bad = 0
    import collections
    badfield = collections.Counter()
    for k in sorted(set(golden) & set(mine)):
        g, m = golden[k], mine[k]
        for field in (
            "type", "type_string", "source_account", "transaction_id",
            "operation_result_code", "operation_trace_code",
        ):
            gv = g.get(field)
            mv = m.get(field)
            if field == "transaction_id":
                gv, mv = int(gv), int(mv)
            if gv != mv:
                bad += 1
                badfield[field] += 1
                if badfield[field] <= 3:
                    print("FIELD", k, field, "golden", gv, "mine", mv)
                break
        else:
            gd = g.get("details") or {}
            md = json.loads(m.get("details_json") or "{}")
            if not details_equal(gd, md):
                bad += 1
                badfield["details:" + g["type_string"]] += 1
                if badfield["details:" + g["type_string"]] <= 2:
                    gs = json.dumps(gd, sort_keys=True)
                    ms = json.dumps(md, sort_keys=True)
                    print("DETAILS", k, g["type_string"])
                    print("  golden", gs[:400])
                    print("  mine  ", ms[:400])
    print("bad-by-field:", dict(badfield))
    print("value-mismatches:", bad)
    return len(missing) + len(extra) + bad


def diff_txs(spark) -> int:
    from stellar_etl_spark.transforms.transaction import transform_transaction

    txs, ops, ledgers = build_silver(spark)
    out = transform_transaction(txs).collect()
    mine = {int(r["id"]): r.asDict() for r in out}
    seqs = {r["sequence"] for r in ledgers.select("sequence").collect()}
    golden = {
        int(row["id"]): row
        for row in golden_rows("transactions")
        if row["ledger_sequence"] in seqs
    }
    missing = [k for k in golden if k not in mine]
    print(f"golden={len(golden)} mine={len(mine)} missing={len(missing)}")
    import collections
    bad = collections.Counter()
    shown = set()
    for k in sorted(set(golden) & set(mine)):
        g, m = golden[k], mine[k]
        for field in sorted(set(g) & set(m)):
            if field in ("closed_at", "created_at"):
                continue
            gv, mv = g.get(field), m.get(field)
            if isinstance(gv, bool) or isinstance(mv, bool):
                gv = gv in (True, "true", "True")
                mv = mv in (True, "true", "True")
            elif isinstance(gv, (int, float)) and mv is not None:
                try:
                    mv = type(gv)(mv)
                except (TypeError, ValueError):
                    pass
            if gv != mv and not (gv in ("", None) and mv in ("", None)):
                bad[field] += 1
                if field not in shown:
                    shown.add(field)
                    print("FIELD", k, field, "golden", repr(gv)[:80],
                          "mine", repr(mv)[:80])
    print("bad-by-field:", dict(bad))
    return len(missing) + sum(bad.values())


def diff_ledgers(spark) -> int:
    from stellar_etl_spark.transforms.ledger import transform_ledger

    _, _, ledgers = build_silver(spark)
    out = transform_ledger(ledgers).collect()
    mine = {r["sequence"]: r.asDict() for r in out}
    golden = {}
    for row in golden_rows("ledgers"):
        if row["sequence"] in mine:
            golden[row["sequence"]] = row
    print(f"golden={len(golden)} mine={len(mine)}")
    import collections
    bad = collections.Counter()
    shown = set()
    for k, g in sorted(golden.items()):
        m = mine[k]
        for field in sorted(set(g) & set(m)):
            if field in ("closed_at",):
                continue
            gv, mv = g.get(field), m.get(field)
            if isinstance(gv, (int, float)) and mv is not None:
                try:
                    mv = type(gv)(mv)
                except (TypeError, ValueError):
                    pass
            if gv != mv and not (gv in ("", None) and mv in ("", None)):
                bad[field] += 1
                if field not in shown:
                    shown.add(field)
                    print("FIELD", k, field, "golden", repr(gv)[:70],
                          "mine", repr(mv)[:70])
    print("bad-by-field:", dict(bad))
    return sum(bad.values())


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "effects"
    from stellar_etl_spark.session import get_spark

    spark = get_spark("golden-e2e-diff", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    if which == "effects":
        rc = diff_effects(spark)
    elif which == "tokens":
        rc = diff_tokens(spark)
    elif which == "ops":
        rc = diff_ops(spark)
    elif which == "txs":
        rc = diff_txs(spark)
    elif which == "ledgers":
        rc = diff_ledgers(spark)
    else:
        raise SystemExit(f"unknown target {which}")
    print("DIFFS", rc)


if __name__ == "__main__":
    main()
