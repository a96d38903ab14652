"""Seeded ledger corpus for the ETL benchmark.

Builds one LedgerCloseMeta file per ledger (the datastore layout the CLI's
``--ledgers-dir`` reads) with the package's own RFC 4506 encoder.  Every
transaction carries its result, fee changes and per-operation ledger-entry
changes; offer and path-payment results carry claim atoms.  The op mix
covers payments, path payments, offers, create account, change trust, set
options, claimable balances and liquidity-pool deposit/withdraw, plus a
share of fee-bump and failed transactions.

Besides the files, ``build`` returns what the corpus implies about the
exports: transactions and operations per ledger, claim atoms, and the
number of ledger-entry keys per entity that survive the CLI's per-batch
compaction.  The output check compares exports against these figures.

    python3 perfbench/corpus.py OUT_DIR --seed 1 --ledgers 64
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import sys

PUBLIC = "Public Global Stellar Network ; September 2015"
FIRST_LEDGER = 1_000_000
CLOSE_TIME0 = 1_704_067_200

CREATED, UPDATED, REMOVED, STATE = 0, 1, 2, 3

# op kind -> relative weight in the mix
OP_MIX = {
    "payment": 6,
    "path_payment": 2,
    "offer": 4,
    "create_account": 1,
    "change_trust": 2,
    "set_options": 1,
    "create_claimable": 1,
    "claim_claimable": 1,
    "lp_deposit": 1,
    "lp_withdraw": 1,
}
FEE_BUMP_SHARE = 0.1
FAILED_SHARE = 0.08
TXS_PER_LEDGER = 5
OPS_PER_TX = 3
ACCOUNTS = 48
BATCH_LEDGERS = 64  # the CLI's default --batch-size, the compaction window


class _World:
    """Ledger state the generator mutates, so every change pairs a real
    pre-state with its post-state."""

    def __init__(self, rng: random.Random, n_accounts: int):
        self.rng = rng
        self.issuer = self._key()
        self.assets = [
            {"type": "credit_alphanum4", "code": code, "issuer": self.issuer}
            for code in ("USD", "EUR", "BTC")
        ]
        self.accounts: dict[bytes, dict] = {}
        for _ in range(n_accounts):
            self._new_account(10_000 * 10**7)
        self.trustlines: dict[tuple, dict] = {}
        for acct in list(self.accounts):
            for a in self.assets[:2]:
                self.trustlines[(acct, a["code"])] = self._trustline(acct, a, 0)
        self.offers: dict[int, dict] = {}
        self.next_offer_id = 1
        for _ in range(n_accounts // 2):
            self._new_offer(self.rng.choice(list(self.accounts)))
        self.claimables: dict[bytes, dict] = {}
        self.pools: dict[bytes, dict] = {}
        for i in range(2):
            pid = hashlib.sha256(b"pool" + bytes([i])).digest()
            self.pools[pid] = {
                "pool_id": pid,
                "asset_a": {"type": "native"},
                "asset_b": self.assets[i],
                "fee": 30,
                "reserve_a": 10**12,
                "reserve_b": 10**12,
                "total_pool_shares": 10**12,
                "pool_shares_trust_line_count": 1,
            }

    def _key(self) -> bytes:
        return self.rng.getrandbits(256).to_bytes(32, "big")

    def _new_account(self, balance: int) -> bytes:
        acct = self._key()
        self.accounts[acct] = {
            "account_id": acct,
            "balance": balance,
            "seq_num": 1 << 32,
            "num_subentries": 0,
            "inflation_dest": None,
            "flags": 0,
            "home_domain": "",
            "thresholds": [1, 0, 0, 0],
            "signers": [],
            "liabilities": None,
            "num_sponsored": None,
            "num_sponsoring": None,
            "signer_sponsoring_ids": None,
            "seq_ledger": None,
            "seq_time": None,
        }
        return acct

    @staticmethod
    def _trustline(acct: bytes, asset: dict, balance: int) -> dict:
        return {
            "account_id": acct,
            "asset": asset,
            "balance": balance,
            "limit": 10**15,
            "flags": 1,
            "liabilities": None,
            "liquidity_pool_use_count": None,
        }

    def _new_offer(self, seller: bytes) -> dict:
        oid = self.next_offer_id
        self.next_offer_id += 1
        o = {
            "seller_id": seller,
            "offer_id": oid,
            "selling": self.rng.choice(self.assets[:2]),
            "buying": {"type": "native"},
            "amount": self.rng.randint(10, 1000) * 10**7,
            "price": (self.rng.randint(1, 9), self.rng.randint(1, 9)),
            "flags": 0,
        }
        self.offers[oid] = o
        return o


def _entry(etype: int, data: dict, seq: int) -> dict:
    return {
        "last_modified_ledger": seq,
        "type": etype,
        "data": data,
        "sponsoring_id": None,
        "has_ext_v1": False,
    }


class _Ledger:
    """Builds the ledger-entry changes of one ledger, mutating the world,
    and records per (batch, key) the change types the compaction model
    reads."""

    ENTITY = {0: "accounts", 1: "trustlines", 2: "offers", 4: "claimable_balances",
              5: "liquidity_pools"}

    def __init__(self, world: _World, seq: int, history: dict):
        self.w, self.seq, self.history = world, seq, history

    def _record(self, etype: int, key: tuple, change_type: int, data: dict):
        """[first change, last change, signers after it] per (batch, key)."""
        entry = self.history.setdefault((self.ENTITY[etype], key), [change_type] * 2 + [0])
        entry[1] = change_type
        entry[2] = len(data["signers"]) if etype == 0 else 0

    def update(self, etype: int, key: tuple, data: dict, mutate) -> list[dict]:
        pre = _entry(etype, dict(data), data.get("_lm", self.seq))
        pre["data"].pop("_lm", None)
        mutate(data)
        data["_lm"] = self.seq
        post = _entry(etype, {k: v for k, v in data.items() if k != "_lm"}, self.seq)
        self._record(etype, key, UPDATED, data)
        return [{"change_type": STATE, "entry": pre},
                {"change_type": UPDATED, "entry": post}]

    def create(self, etype: int, key: tuple, data: dict) -> list[dict]:
        data["_lm"] = self.seq
        self._record(etype, key, CREATED, data)
        return [{"change_type": CREATED,
                 "entry": _entry(etype, {k: v for k, v in data.items() if k != "_lm"},
                                 self.seq)}]

    def remove(self, etype: int, key: tuple, data: dict, ledger_key: dict) -> list[dict]:
        pre = _entry(etype, {k: v for k, v in data.items() if k != "_lm"},
                     data.get("_lm", self.seq))
        self._record(etype, key, REMOVED, data)
        return [{"change_type": STATE, "entry": pre},
                {"change_type": REMOVED, "key": ledger_key}]

    def account(self, acct: bytes, delta: int = 0, **fields) -> list[dict]:
        def mutate(d):
            d["balance"] += delta
            d.update(fields)
        return self.update(0, (acct,), self.w.accounts[acct], mutate)

    def holding(self, acct: bytes, asset: dict, delta: int) -> list[dict]:
        """The account (native) or trustline (credit) ``asset`` moves."""
        if asset["type"] == "native":
            return self.account(acct, delta)
        tl = self.w.trustlines.get((acct, asset["code"]))
        if tl is None:
            return []

        def mutate(d):
            d["balance"] = max(0, d["balance"] + delta)
        return self.update(1, (acct, asset["code"]), tl, mutate)


def _muxed(acct: bytes) -> dict:
    return {"ed25519": acct, "id": None}


def _op(world: _World, led: _Ledger, kind: str, src: bytes, fail: bool):
    """-> (operation, operation result, op changes, claim atoms)."""
    rng = world.rng
    others = [a for a in world.accounts if a != src]
    dst = rng.choice(others)
    amount = rng.randint(1, 500) * 10**7
    changes: list[dict] = []
    atoms: list[dict] = []
    if kind == "payment":
        asset = rng.choice([{"type": "native"}] + world.assets[:2])
        op = {"type": 1, "body": {"destination": _muxed(dst), "asset": asset,
                                  "amount": amount}}
        res = {"code": 0, "type": 1, "inner_code": -2 if fail else 0}
        if not fail:
            changes = led.holding(src, asset, -amount) + led.holding(dst, asset, amount)
    elif kind == "path_payment":
        t = rng.choice([2, 13])
        offer = world.offers[rng.choice(sorted(world.offers))]
        sold = min(amount, offer["amount"])
        bought = sold * offer["price"][0] // offer["price"][1] or 1
        op = {"type": t, "body": {
            "send_asset": offer["buying"], "send_amount": bought,
            "destination": _muxed(dst), "dest_asset": offer["selling"],
            "dest_amount": sold, "path": []}}
        res = {"code": 0, "type": t, "inner_code": -2 if fail else 0}
        if not fail:
            atom = {"atom_type": "order_book", "seller_id": offer["seller_id"],
                    "offer_id": offer["offer_id"], "asset_sold": offer["selling"],
                    "amount_sold": sold, "asset_bought": offer["buying"],
                    "amount_bought": bought}
            atoms = [atom]
            res["success"] = {"offers": atoms, "last": {
                "destination": dst, "asset": offer["selling"], "amount": sold}}
            changes = _cross(world, led, offer, sold)
            changes += led.holding(src, offer["buying"], -bought)
            changes += led.holding(dst, offer["selling"], sold)
    elif kind == "offer":
        t = rng.choice([3, 12])
        crossed = world.offers[rng.choice(sorted(world.offers))]
        sold = min(amount, crossed["amount"])
        bought = sold * crossed["price"][0] // crossed["price"][1] or 1
        op = {"type": t, "body": {
            "selling": crossed["buying"], "buying": crossed["selling"],
            "amount": bought + rng.randint(0, 1) * 10**7,
            "price": (crossed["price"][1], crossed["price"][0]), "offer_id": 0}}
        res = {"code": 0, "type": t, "inner_code": -1 if fail else 0}
        if not fail:
            atoms = [{"atom_type": "order_book", "seller_id": crossed["seller_id"],
                      "offer_id": crossed["offer_id"], "asset_sold": crossed["selling"],
                      "amount_sold": sold, "asset_bought": crossed["buying"],
                      "amount_bought": bought}]
            changes = _cross(world, led, crossed, sold)
            if op["body"]["amount"] > bought:
                new = world._new_offer(src)
                new.update(selling=crossed["buying"], buying=crossed["selling"],
                           amount=op["body"]["amount"] - bought,
                           price=op["body"]["price"])
                changes += led.create(2, (new["offer_id"],), new)
                res["success"] = {"offers_claimed": atoms, "effect": 0,
                                  "offer": {k: v for k, v in new.items() if k != "_lm"}}
            else:
                res["success"] = {"offers_claimed": atoms, "effect": 2, "offer": None}
            changes += led.holding(src, crossed["buying"], -bought)
    elif kind == "create_account":
        new = world._key()
        op = {"type": 0, "body": {"destination": new, "starting_balance": amount}}
        res = {"code": 0, "type": 0, "inner_code": -3 if fail else 0}
        if not fail:
            world.accounts[new] = dict(world.accounts[src], account_id=new,
                                       balance=amount, signers=[])
            world.accounts[new].pop("_lm", None)
            changes = led.account(src, -amount) + led.create(0, (new,), world.accounts[new])
    elif kind == "change_trust":
        asset = world.assets[2]
        have = (src, asset["code"]) in world.trustlines
        limit = 0 if have and rng.random() < 0.5 else 10**15
        op = {"type": 6, "body": {"line": asset, "limit": limit}}
        res = {"code": 0, "type": 6, "inner_code": -3 if fail else 0}
        if not fail:
            key = (src, asset["code"])
            if not have:
                world.trustlines[key] = world._trustline(src, asset, 0)
                changes = led.create(1, key, world.trustlines[key])
            elif limit == 0:
                tl = world.trustlines.pop(key)
                changes = led.remove(1, key, tl, {"type": 1, "account_id": src,
                                                  "asset": asset})
            else:
                changes = led.update(1, key, world.trustlines[key],
                                     lambda d: d.update(limit=limit))
    elif kind == "set_options":
        signer = {"key": {"type": 0, "key": dst}, "weight": rng.randint(1, 5)}
        op = {"type": 5, "body": {
            "inflation_dest": None, "clear_flags": None, "set_flags": None,
            "master_weight": None, "low_threshold": 1, "med_threshold": 2,
            "high_threshold": 3, "home_domain": "bench.example", "signer": signer}}
        res = {"code": 0, "type": 5, "inner_code": -1 if fail else 0}
        if not fail:
            signers = [s for s in world.accounts[src]["signers"]
                       if s["key"]["key"] != dst][:3] + [signer]
            changes = led.account(src, home_domain="bench.example",
                                  thresholds=[1, 1, 2, 3], signers=signers)
    elif kind == "create_claimable":
        asset = {"type": "native"}
        claimants = [{"destination": dst, "predicate": {"type": "unconditional"}}]
        bid = world._key()
        op = {"type": 14, "body": {"asset": asset, "amount": amount,
                                   "claimants": claimants}}
        res = {"code": 0, "type": 14, "inner_code": -2 if fail else 0}
        if not fail:
            res["balance_id"] = bid
            world.claimables[bid] = {"balance_id": bid, "claimants": claimants,
                                     "asset": asset, "amount": amount, "flags": None}
            changes = led.account(src, -amount) + led.create(4, (bid,), world.claimables[bid])
    elif kind == "claim_claimable":
        if not world.claimables:
            return _op(world, led, "payment", src, fail)
        bid = sorted(world.claimables)[0]
        cb = world.claimables[bid]
        op = {"type": 15, "body": {"balance_id": bid}}
        res = {"code": 0, "type": 15, "inner_code": -3 if fail else 0}
        if not fail:
            del world.claimables[bid]
            changes = led.remove(4, (bid,), cb, {"type": 4, "balance_id": bid})
            changes += led.account(src, cb["amount"])
    else:  # lp_deposit / lp_withdraw
        pid = rng.choice(sorted(world.pools))
        pool = world.pools[pid]
        if kind == "lp_deposit":
            op = {"type": 22, "body": {"pool_id": pid, "max_amount_a": amount,
                                       "max_amount_b": amount, "min_price": (1, 2),
                                       "max_price": (2, 1)}}
            sign = 1
        else:
            op = {"type": 23, "body": {"pool_id": pid, "amount": amount,
                                       "min_amount_a": 1, "min_amount_b": 1}}
            sign = -1
        res = {"code": 0, "type": op["type"], "inner_code": -2 if fail else 0}
        if not fail:
            def mutate(d):
                d["reserve_a"] += sign * amount
                d["reserve_b"] += sign * amount
                d["total_pool_shares"] += sign * amount
            changes = led.update(5, (pid,), pool, mutate)
            changes += led.account(src, -sign * amount)
    op["source"] = None
    return op, res, changes, atoms


def _cross(world: _World, led: _Ledger, offer: dict, sold: int) -> list[dict]:
    """The crossed offer's STATE + UPDATED (partial fill) or REMOVED."""
    oid = offer["offer_id"]
    if sold >= offer["amount"]:
        del world.offers[oid]
        out = led.remove(2, (oid,), offer, {"type": 2, "seller_id": offer["seller_id"],
                                             "offer_id": oid})
        world._new_offer(world.rng.choice(list(world.accounts)))
        return out
    return led.update(2, (oid,), offer, lambda d: d.update(amount=d["amount"] - sold))


def _deal(rng: random.Random, shares: dict, n: int) -> list:
    """``n`` items, each key of ``shares`` in proportion to its share."""
    total = sum(shares.values())
    out = []
    for key, share in shares.items():
        out += [key] * round(n * share / total)
    out = (out + [max(shares, key=shares.get)] * n)[:n]
    rng.shuffle(out)
    return out


def build(out_dir: str, seed: int, n_ledgers: int) -> dict:
    """Write ``n_ledgers`` LCM files into ``out_dir``; return the corpus
    figures (bytes, ledgers, txs, ops) and the counts the exports imply."""
    from stellar_etl_spark.sources.xdr import (
        LedgerHeader,
        encode_ledger_close_meta_v0,
        encode_ledger_close_meta_v1,
        transaction_hash,
    )

    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    world = _World(rng, ACCOUNTS)
    # exact shares, shuffled: seeds differ in values and order, not volume
    n_txs_total = n_ledgers * TXS_PER_LEDGER
    kinds = _deal(rng, OP_MIX, n_txs_total * OPS_PER_TX)
    failed = _deal(rng, {True: FAILED_SHARE, False: 1 - FAILED_SHARE}, n_txs_total)
    bumped = _deal(rng, {True: FEE_BUMP_SHARE, False: 1 - FEE_BUMP_SHARE}, n_txs_total)
    history: dict = {}
    ok_types: dict[int, int] = {}
    n_bytes = n_txs = n_ops = n_atoms = n_failed = n_fee_bump = 0
    for i in range(n_ledgers):
        seq = FIRST_LEDGER + i
        led = _Ledger(world, seq, history.setdefault(seq // BATCH_LEDGERS, {}))
        sources = rng.sample(sorted(world.accounts), TXS_PER_LEDGER)
        envelopes, processing = [], []
        for t, src in enumerate(sources):
            fail, bump = failed.pop(), bumped.pop()
            fee = 100 * OPS_PER_TX
            ops, op_results, op_metas = [], [], []
            for _ in range(OPS_PER_TX):
                op, res, changes, atoms = _op(world, led, kinds.pop(), src, fail)
                ops.append(op)
                op_results.append(res)
                op_metas.append({"changes": changes})
                if not fail:
                    n_atoms += len(atoms)
                    ok_types[op["type"]] = ok_types.get(op["type"], 0) + 1
            seq_num = world.accounts[src]["seq_num"] + 1
            tx = {
                "source": _muxed(src),
                "fee": fee,
                "seq_num": seq_num,
                "preconditions": {"time_bounds": {"min_time": 0, "max_time": 0}},
                "memo": {"type": "text", "text": f"b{seq}.{t}"},
                "operations": ops,
                "soroban_data": None,
            }
            env = {"type": "v1", "tx": tx, "signatures": [
                {"hint": src[-4:], "signature": hashlib.sha512(src + bytes([t])).digest()}]}
            fee_src = src
            if bump:
                fee_src = rng.choice([a for a in world.accounts if a != src])
                inner_hash = transaction_hash(env, PUBLIC)
                env = {"type": "fee_bump", "fee_source": _muxed(fee_src), "fee": 2 * fee,
                       "inner": env, "signatures": env["signatures"]}
            code = -1 if fail else 0
            inner = {"fee_charged": fee, "code": code, "op_results": op_results}
            result = (
                {"fee_charged": fee, "code": -13 if fail else 1,
                 "inner_hash": inner_hash, "inner_result": inner}
                if bump else {"fee_charged": fee, "code": code, "op_results": op_results}
            )
            fee_phase = led.account(fee_src, -fee)
            world.accounts[src]["seq_num"] = seq_num
            processing.append({
                "result": {"transaction_hash": transaction_hash(env, PUBLIC),
                           "result": result},
                "fee_changes": fee_phase,
                "meta": {"version": 2, "tx_changes_before": [],
                         "operations": [] if fail else op_metas,
                         "tx_changes_after": [], "soroban": None},
            })
            envelopes.append(env)
            n_txs += 1
            n_ops += len(ops)
            n_failed += fail
            n_fee_bump += bump
        header = LedgerHeader(
            ledger_version=21, ledger_seq=seq, close_time=CLOSE_TIME0 + 5 * i,
            total_coins=10**17, fee_pool=10**9, base_fee=100,
            previous_ledger_hash=hashlib.sha256(str(seq - 1).encode()).digest(),
        )
        raw = (encode_ledger_close_meta_v0(header, envelopes, tx_processing=processing)
               if i % 2 else
               encode_ledger_close_meta_v1(header, [envelopes], tx_processing=processing))
        with open(os.path.join(out_dir, f"{seq}.xdr"), "wb") as fh:
            fh.write(raw)
        n_bytes += len(raw)
    compacted: dict[str, int] = {}
    for batch in history.values():
        for (entity, _key), (first, last, signers) in batch.items():
            if first == CREATED and last == REMOVED:
                continue
            compacted[entity] = compacted.get(entity, 0) + 1
            if entity == "accounts":  # the master key plus every signer
                compacted["account_signers"] = compacted.get("account_signers", 0) + 1 + signers
    return {
        "seed": seed,
        "first_ledger": FIRST_LEDGER,
        "ledgers": n_ledgers,
        "bytes": n_bytes,
        "txs": n_txs,
        "ops": n_ops,
        "failed_txs": n_failed,
        "fee_bump_txs": n_fee_bump,
        "claim_atoms": n_atoms,
        "ok_ops_by_type": {str(t): n for t, n in sorted(ok_types.items())},
        "compacted_keys": dict(sorted(compacted.items())),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--ledgers", type=int, default=64)
    args = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    print(json.dumps(build(args.out_dir, args.seed, args.ledgers)))


if __name__ == "__main__":
    main()
