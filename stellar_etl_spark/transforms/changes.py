"""State-entity family over ledger-entry changes (reference: internal/
transform/{account,account_signer,trustline,offer,liquidity_pool,
claimable_balance,contract_code,ttl}.go).

Shared shape: ``extract_entry_from_change`` (utils/main.go:836-845) picks
post for created/updated/state and pre for removed (deleted=true); each
entity projection is then a narrow select over the typed entry struct.
All functions expect the change rows ALREADY routed by entry_type
(groupBy(entry_type) routing, cmd/export_ledger_entry_changes.go:116-259)
and typically pre-compacted by operators.compaction.compact_changes.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stellar_etl_spark.functions.hashes import asset_id
from stellar_etl_spark.functions.scalars import price_to_float, stroops_to_real
from stellar_etl_spark.functions.strkey import (
    strkey_claimable_udf,
    strkey_pool_udf,
)

REMOVED = 2


def _pool_strkey(pool_id: Column) -> Column:
    """'L' strkey of a hex-encoded 32-byte pool id (trustline.go:47-50);
    null when the id is not a 32-byte hex string."""
    raw = F.unhex(pool_id)
    return F.when(F.length(raw) == 32, strkey_pool_udf(raw))


def _ledger_key_hash_cols() -> list[Column]:
    """``ledger_key_hash`` = lowercase-hex sha256 of the serialized ledger
    KEY bytes (utils.LedgerEntryToLedgerKeyHash, main.go:960-967);
    ``ledger_key_hash_base_64`` = base64 of the key bytes themselves
    (xdr.MarshalBase64(ledgerKey), contract_code.go:38) — NOT of the hash.
    The ``ledger_key`` column is already the base64 key, so the second is a
    passthrough and the first hashes its decoded bytes, all JVM-side."""
    return [
        F.sha2(F.unbase64(F.col("ledger_key")), 256).alias("ledger_key_hash"),
        F.col("ledger_key").alias("ledger_key_hash_base_64"),
    ]


def extract_entry_from_change(changes: DataFrame) -> DataFrame:
    """Add ``entry`` (pre for removed, else post) and ``deleted`` columns
    (utils/main.go:836-845)."""
    return changes.withColumn(
        "entry",
        F.when(F.col("change_type") == REMOVED, F.col("pre")).otherwise(F.col("post")),
    ).withColumn("deleted", F.col("change_type") == REMOVED)


def _common(changes: DataFrame) -> list[Column]:
    return [
        F.col("ledger_sequence"),
        F.col("closed_at"),
        F.col("last_modified_ledger"),
        # uint32 LedgerEntryChangeType code (utils/main.go:836-845):
        # 0 created, 1 updated, 2 removed, 3 state.
        F.col("change_type").cast("int").alias("ledger_entry_change"),
        F.col("ledger_key").alias("ledger_entry_key"),
        F.col("sponsor"),
        F.col("deleted"),
    ]


def _aid(asset: Column) -> Column:
    return asset_id(
        F.coalesce(asset["asset_code"], F.lit("")),
        F.coalesce(asset["asset_issuer"], F.lit("")),
        asset["asset_type"],
    )


def transform_account(changes: DataFrame) -> DataFrame:
    """accounts table (account.go:13-112): balances and liabilities to real
    units, thresholds unpacked from the 4-byte vector (account.go:72-75)."""
    e = extract_entry_from_change(changes)
    entry = F.col("entry")
    return e.select(
        entry["account_id"].alias("account_id"),
        stroops_to_real(entry["balance"]).alias("balance"),
        entry["seq_num"].alias("sequence_number"),
        entry["num_subentries"].alias("num_subentries"),
        entry["num_sponsored"].alias("num_sponsored"),
        entry["num_sponsoring"].alias("num_sponsoring"),
        entry["inflation_destination"].alias("inflation_destination"),
        entry["seq_ledger"].alias("sequence_ledger"),
        entry["seq_time"].alias("sequence_time"),
        entry["flags"].alias("flags"),
        entry["home_domain"].alias("home_domain"),
        F.element_at(entry["thresholds"], 1).alias("master_weight"),
        F.element_at(entry["thresholds"], 2).alias("threshold_low"),
        F.element_at(entry["thresholds"], 3).alias("threshold_medium"),
        F.element_at(entry["thresholds"], 4).alias("threshold_high"),
        stroops_to_real(F.coalesce(entry["liabilities"]["buying"], F.lit(0))).alias(
            "buying_liabilities"
        ),
        stroops_to_real(F.coalesce(entry["liabilities"]["selling"], F.lit(0))).alias(
            "selling_liabilities"
        ),
        *_common(e),
    )


def transform_signers(changes: DataFrame) -> DataFrame:
    """account_signers fan-out (account_signer.go:14-55): explode the signer
    array — previously sorted by weight (line 53) — keeping per-signer
    sponsors.  ``SignerSummary()`` semantics: the MASTER key (the account id
    itself, at the master weight = thresholds[0]) is included as a signer
    row whenever its weight is positive (stellar/go AccountEntry
    .SignerSummary, used at account_signer.go:35).  ``sort_array`` on
    (weight, key) keeps deterministic order where the reference's map
    iteration + weight-only sort is nondeterministic among equal weights."""
    e = extract_entry_from_change(changes)
    master_w = F.element_at(F.col("entry")["thresholds"], 1)
    master_row = F.struct(
        F.col("entry")["account_id"].alias("key"),
        master_w.cast("int").alias("weight"),
        F.lit(None).cast("string").alias("sponsor"),
    )
    explicit = F.coalesce(
        F.col("entry")["signers"],
        F.array().cast("array<struct<key:string,weight:int,sponsor:string>>"),
    )
    with_master = F.when(
        master_w > 0, F.concat(F.array(master_row), explicit)
    ).otherwise(explicit)
    e = e.withColumn("_all_signers", with_master)
    sorted_signers = F.expr(
        "array_sort(_all_signers, (l, r) -> "
        "CASE WHEN l.weight < r.weight THEN -1 WHEN l.weight > r.weight THEN 1 "
        "WHEN l.key < r.key THEN -1 WHEN l.key > r.key THEN 1 ELSE 0 END)"
    )
    return e.select(
        F.col("entry")["account_id"].alias("account_id"),
        F.posexplode(sorted_signers).alias("signer_order", "s"),
        F.col("ledger_sequence"),
        F.col("closed_at"),
        F.col("last_modified_ledger"),
        F.col("change_type").cast("int").alias("ledger_entry_change"),
        F.col("ledger_key").alias("ledger_entry_key"),
        F.col("deleted"),
    ).select(
        "account_id",
        F.col("s")["key"].alias("signer"),
        F.col("s")["weight"].alias("weight"),
        # the SIGNER's sponsor, not the entry's (account_signer.go:44-49,
        # schema.go AccountSignerOutput json:"sponsor")
        F.col("s")["sponsor"].alias("sponsor"),
        "signer_order",
        "ledger_sequence",
        "closed_at",
        "last_modified_ledger",
        "ledger_entry_change",
        "ledger_entry_key",
        "deleted",
    )


_RAW_ASSET_TYPE_STRINGS = {
    "native": "AssetTypeAssetTypeNative",
    "credit_alphanum4": "AssetTypeAssetTypeCreditAlphanum4",
    "credit_alphanum12": "AssetTypeAssetTypeCreditAlphanum12",
}


def _raw_asset_type(canonical: Column) -> Column:
    """Canonical asset type → the Go xdr.AssetType.String() enum spelling.
    Unknown/synthetic-fixture spellings pass through unchanged."""
    out = F.lit(None).cast("string")
    for k, v in _RAW_ASSET_TYPE_STRINGS.items():
        out = F.when(canonical == k, F.lit(v)).otherwise(out)
    return F.coalesce(out, canonical)


def transform_trustline(changes: DataFrame) -> DataFrame:
    """trust_lines (trustline.go:18-91): pool-share branch when pool_id is
    set (lines 43-55); the asset id hashes the RAW Go enum type string —
    the reference's quirk (trustline.go:57: ``asset.Type.String()``), with
    empty code/issuer for pool shares; the limit stays RAW int64
    (trustline.go ``TrustlineLimit: int64(trustEntry.Limit)``), unlike the
    stroops→real balances."""
    e = extract_entry_from_change(changes)
    entry = F.col("entry")
    is_pool = entry["pool_id"].isNotNull()
    raw_type = F.when(
        is_pool, F.lit("AssetTypeAssetTypePoolShare")
    ).otherwise(_raw_asset_type(entry["asset"]["asset_type"]))
    return e.select(
        F.col("ledger_key").alias("ledger_key"),
        entry["account_id"].alias("account_id"),
        F.when(is_pool, F.lit("pool_share"))
        .otherwise(entry["asset"]["asset_type"])
        .alias("asset_type"),
        F.when(~is_pool, entry["asset"]["asset_code"]).alias("asset_code"),
        F.when(~is_pool, entry["asset"]["asset_issuer"]).alias("asset_issuer"),
        asset_id(
            F.coalesce(entry["asset"]["asset_code"], F.lit("")),
            F.coalesce(entry["asset"]["asset_issuer"], F.lit("")),
            raw_type,
        ).alias("asset_id"),
        entry["pool_id"].alias("liquidity_pool_id"),
        _pool_strkey(entry["pool_id"]).alias("liquidity_pool_id_strkey"),
        stroops_to_real(entry["balance"]).alias("balance"),
        entry["limit"].alias("trust_line_limit"),
        entry["flags"].alias("flags"),
        stroops_to_real(F.coalesce(entry["liabilities"]["buying"], F.lit(0))).alias(
            "buying_liabilities"
        ),
        stroops_to_real(F.coalesce(entry["liabilities"]["selling"], F.lit(0))).alias(
            "selling_liabilities"
        ),
        *_common(e),
    )


def transform_offer(changes: DataFrame) -> DataFrame:
    """offers (offer.go:13-103): price as float AND kept rational
    (offer.go:49-66)."""
    e = extract_entry_from_change(changes)
    entry = F.col("entry")
    return e.select(
        entry["seller_id"].alias("seller_id"),
        entry["offer_id"].alias("offer_id"),
        entry["selling"]["asset_type"].alias("selling_asset_type"),
        entry["selling"]["asset_code"].alias("selling_asset_code"),
        entry["selling"]["asset_issuer"].alias("selling_asset_issuer"),
        _aid(entry["selling"]).alias("selling_asset_id"),
        entry["buying"]["asset_type"].alias("buying_asset_type"),
        entry["buying"]["asset_code"].alias("buying_asset_code"),
        entry["buying"]["asset_issuer"].alias("buying_asset_issuer"),
        _aid(entry["buying"]).alias("buying_asset_id"),
        stroops_to_real(entry["amount"]).alias("amount"),
        # rational price field names are `pricen`/`priced` in OfferOutput
        # (schema.go:258-259) — unlike TradeOutput's price_n/price_d quirk
        entry["price_n"].alias("pricen"),
        entry["price_d"].alias("priced"),
        price_to_float(entry["price_n"], entry["price_d"]).alias("price"),
        entry["flags"].alias("flags"),
        *_common(e),
    )


def transform_pool(changes: DataFrame) -> DataFrame:
    """liquidity_pools (liquidity_pool.go:13-90): constant-product pools,
    reserves to real units."""
    e = extract_entry_from_change(changes)
    entry = F.col("entry")
    return e.select(
        entry["pool_id"].alias("liquidity_pool_id"),
        _pool_strkey(entry["pool_id"]).alias("liquidity_pool_id_strkey"),
        F.lit("constant_product").alias("type"),
        entry["fee"].alias("fee"),
        entry["trustline_count"].alias("trustline_count"),
        stroops_to_real(entry["total_shares"]).alias("pool_share_count"),
        entry["asset_a"]["asset_type"].alias("asset_a_type"),
        entry["asset_a"]["asset_code"].alias("asset_a_code"),
        entry["asset_a"]["asset_issuer"].alias("asset_a_issuer"),
        _aid(entry["asset_a"]).alias("asset_a_id"),
        stroops_to_real(entry["reserve_a"]).alias("asset_a_amount"),
        entry["asset_b"]["asset_type"].alias("asset_b_type"),
        entry["asset_b"]["asset_code"].alias("asset_b_code"),
        entry["asset_b"]["asset_issuer"].alias("asset_b_issuer"),
        _aid(entry["asset_b"]).alias("asset_b_id"),
        stroops_to_real(entry["reserve_b"]).alias("asset_b_amount"),
        *_common(e),
    )


def transform_claimable_balance(changes: DataFrame) -> DataFrame:
    """claimable_balances (claimable_balance.go:24-77): claimants kept as a
    nested array (schema.go:150,167-170)."""
    e = extract_entry_from_change(changes)
    entry = F.col("entry")
    raw_bid = F.unhex(entry["balance_id"])
    # BalanceId.MustEncodeToStrkey() (claimable_balance.go:40): the strkey
    # payload is the 1-byte type discriminant + 32-byte hash (33 bytes),
    # i.e. the serialized 4-byte-BE type collapses to its low byte
    strkey_payload = F.substring(raw_bid, 4, 33)
    return e.select(
        entry["balance_id"].alias("balance_id"),
        # null for non-hex fixture ids
        F.when(
            F.length(raw_bid) == 36, strkey_claimable_udf(strkey_payload)
        ).alias("balance_id_strkey"),
        entry["claimants"].alias("claimants"),
        entry["asset"]["asset_type"].alias("asset_type"),
        entry["asset"]["asset_code"].alias("asset_code"),
        entry["asset"]["asset_issuer"].alias("asset_issuer"),
        _aid(entry["asset"]).alias("asset_id"),
        stroops_to_real(entry["amount"]).alias("asset_amount"),
        entry["flags"].alias("flags"),
        *_common(e),
    )


def transform_contract_code(changes: DataFrame) -> DataFrame:
    """soroban_contract_code (contract_code.go:12-101) with the full wasm
    cost-input surface from ext V1 (lines 65-77, schema.go:534-555)."""
    e = extract_entry_from_change(changes)
    entry = F.col("entry")
    return e.select(
        entry["code_hash"].alias("contract_code_hash"),
        F.coalesce(entry["ext_v"], F.lit(0)).alias("contract_code_ext_v"),
        entry["wasm_b64"].alias("contract_code"),
        entry["n_instructions"].alias("n_instructions"),
        entry["n_functions"].alias("n_functions"),
        entry["n_globals"].alias("n_globals"),
        entry["n_table_entries"].alias("n_table_entries"),
        entry["n_types"].alias("n_types"),
        entry["n_data_segments"].alias("n_data_segments"),
        entry["n_elem_segments"].alias("n_elem_segments"),
        entry["n_imports"].alias("n_imports"),
        entry["n_exports"].alias("n_exports"),
        entry["n_data_segment_bytes"].alias("n_data_segment_bytes"),
        *_ledger_key_hash_cols(),
        *_common(e),
    )


PUBLIC_PASSPHRASE = "Public Global Stellar Network ; September 2015"

# XDR int32 tags used in the contract-id preimage (public XDR definitions:
# Stellar-transaction.x ENVELOPE_TYPE_CONTRACT_ID = 16,
# CONTRACT_ID_PREIMAGE_FROM_ASSET = 1; Stellar-ledger-entries.x AssetType
# 0/1/2 and PUBLIC_KEY_TYPE_ED25519 = 0).
_I32_ENVELOPE_CONTRACT_ID = bytes([0, 0, 0, 16])
_I32_PREIMAGE_FROM_ASSET = bytes([0, 0, 0, 1])
_I32_ASSET_NATIVE = bytes([0, 0, 0, 0])
_I32_ASSET_ALPHANUM4 = bytes([0, 0, 0, 1])
_I32_ASSET_ALPHANUM12 = bytes([0, 0, 0, 2])
_I32_KEY_ED25519 = bytes([0, 0, 0, 0])


def _asset_contract_id(sym: Column, code: Column, issuer_key: Column,
                       passphrase: str) -> Column:
    """Re-derive the Stellar Asset Contract id for an asset — the
    verification step the reference performs via asset.ContractID
    (contract_data.go:283-297): sha256 of the HashIDPreimage
    ``envelope_type(16) || network_id || FROM_ASSET(1) || asset_xdr``,
    all as JVM expressions (sha2 + concat over binary)."""
    network_id = F.unhex(F.sha2(F.lit(passphrase).cast("binary"), 256))
    asset_xdr = (
        F.when(sym == "Native", F.lit(_I32_ASSET_NATIVE))
        .when(
            sym == "AlphaNum4",
            F.concat(
                F.lit(_I32_ASSET_ALPHANUM4),
                F.rpad(code, 4, "\x00").cast("binary"),
                F.lit(_I32_KEY_ED25519),
                issuer_key,
            ),
        )
        .when(
            sym == "AlphaNum12",
            F.concat(
                F.lit(_I32_ASSET_ALPHANUM12),
                F.rpad(code, 12, "\x00").cast("binary"),
                F.lit(_I32_KEY_ED25519),
                issuer_key,
            ),
        )
    )
    preimage = F.concat(
        F.lit(_I32_ENVELOPE_CONTRACT_ID),
        network_id,
        F.lit(_I32_PREIMAGE_FROM_ASSET),
        asset_xdr,
    )
    return F.unhex(F.sha2(preimage, 256))


def transform_contract_data(
    changes: DataFrame, passphrase: str = PUBLIC_PASSPHRASE
) -> DataFrame:
    """soroban_contract_data (contract_data.go:49-158): nonce-keyed entries
    are dropped (lines 60-63); key/val ride as base64 XDR strings.

    SAC enrichment (contract_data.go:191-379, schema.go:511-532):
    - asset recognition: a ContractInstance entry whose storage carries an
      AssetInfo vec [sym, {asset_code, issuer}] is accepted ONLY when the
      re-derived asset contract id matches the entry's contract id
      (forged-entry verification, contract_data.go:283-297); native is
      accepted only for the native asset contract id.  Emits
      ``asset_type/asset_code/asset_issuer`` (code NUL-stripped,
      contract_data.go:91; issuer as G strkey).
    - balance extraction: a [Balance, address] key with a 3-entry
      {amount:i128, authorized:bool, clawback:bool} value map and a
      non-negative i128 hi word emits ``balance_holder`` (C strkey) and
      ``balance`` (decimal i128 string) — contract_data.go:306-379.
    """
    from stellar_etl_spark.functions.scalars import i128_to_string
    from stellar_etl_spark.functions.strkey import (
        strkey_account_udf,
        strkey_contract_udf,
    )

    e = extract_entry_from_change(changes)
    entry = F.col("entry")

    inst = entry["instance_asset"]
    is_instance = (
        (entry["key_type"] == "ScValTypeScvLedgerKeyContractInstance")
        & inst.isNotNull()
    )
    expected_id = _asset_contract_id(
        inst["sym"], F.coalesce(inst["code"], F.lit("")), inst["issuer_key"],
        passphrase,
    )
    alphanum_ok = (
        inst["sym"].isin("AlphaNum4", "AlphaNum12")
        & (F.coalesce(inst["code"], F.lit("")) != "")
        & inst["issuer_key"].isNotNull()
    )
    native_ok = inst["sym"] == "Native"
    verified = (
        is_instance
        & (alphanum_ok | native_ok)
        & entry["contract_id_bytes"].isNotNull()
        & (expected_id == entry["contract_id_bytes"])
    )
    asset_type = F.when(
        verified,
        F.when(inst["sym"] == "Native", F.lit("native"))
        .when(inst["sym"] == "AlphaNum4", F.lit("credit_alphanum4"))
        .otherwise(F.lit("credit_alphanum12")),
    )
    asset_code = F.when(
        verified & ~native_ok, F.translate(inst["code"], "\x00", "")
    )
    asset_issuer = F.when(verified & ~native_ok, strkey_account_udf(inst["issuer_key"]))

    bk, vm = entry["balance_key"], entry["val_map"]
    balance_ok = (
        F.coalesce(bk["is_balance"], F.lit(False))
        & bk["holder"].isNotNull()
        & (vm["n_entries"] == 3)
        & vm["authorized"].isNotNull()
        & vm["clawback"].isNotNull()
        & vm["amount_hi"].isNotNull()
        & (vm["amount_hi"] >= 0)
    )
    balance_holder = F.when(balance_ok, strkey_contract_udf(bk["holder"]))
    balance = F.when(
        balance_ok, i128_to_string(vm["amount_hi"], vm["amount_lo"])
    )

    contract_id = F.when(
        entry["contract_id_bytes"].isNotNull(),
        strkey_contract_udf(entry["contract_id_bytes"]),
    ).otherwise(entry["contract_id"])

    return e.where(
        F.coalesce(entry["key_type"], F.lit(""))
        != "ScValTypeScvLedgerKeyNonce"
    ).select(
        contract_id.alias("contract_id"),
        entry["key_type"].alias("contract_key_type"),
        entry["durability"].alias("contract_durability"),
        asset_code.alias("asset_code"),
        asset_issuer.alias("asset_issuer"),
        asset_type.alias("asset_type"),
        balance_holder.alias("balance_holder"),
        balance.alias("balance"),
        # serializeScVal pairs (contract_data.go:121-128): base64 XDR + the
        # decoder's JSON rendering (null when the decode slot didn't run)
        entry["key_xdr"].alias("key"),
        entry["key_decoded"].alias("key_decoded"),
        entry["val_xdr"].alias("val"),
        entry["val_decoded"].alias("val_decoded"),
        entry["contract_data_xdr"].alias("contract_data_xdr"),
        *_ledger_key_hash_cols(),
        *_common(e),
    )


def transform_config_setting(changes: DataFrame) -> DataFrame:
    """config_settings (config_setting.go:13-101, schema.go:557-606): each
    entry is ONE ConfigSettingEntry union arm, so every other scalar param
    is its zero value — exactly the reference's behavior (the Go struct's
    unset int64 fields marshal as 0)."""
    from stellar_etl_spark.schemas import CONFIG_SCALAR_FIELDS

    e = extract_entry_from_change(changes)
    entry = F.col("entry")
    return e.select(
        entry["config_setting_id"].alias("config_setting_id"),
        *[
            F.coalesce(entry[f], F.lit(0)).cast("long").alias(f)
            for f in CONFIG_SCALAR_FIELDS
        ],
        F.coalesce(entry["bucket_list_size_window"], F.array().cast("array<long>"))
        .alias("bucket_list_size_window"),
        F.coalesce(
            entry["contract_cost_params_cpu_insns"],
            F.array().cast("array<string>"),
        ).alias("contract_cost_params_cpu_insns"),
        F.coalesce(
            entry["contract_cost_params_mem_bytes"],
            F.array().cast("array<string>"),
        ).alias("contract_cost_params_mem_bytes"),
        *_common(e),
    )


def transform_ttl(changes: DataFrame) -> DataFrame:
    """ttls (ttl.go:12-49) — trivial map."""
    e = extract_entry_from_change(changes)
    entry = F.col("entry")
    return e.select(
        entry["key_hash"].alias("key_hash"),
        entry["live_until_seq"].alias("live_until_ledger_seq"),
        *_common(e),
    )


_SIGNERLESS_FIELDS = (
    "account_id balance seq_num num_subentries flags home_domain thresholds "
    "liabilities num_sponsored num_sponsoring"
).split()


def _signerless(side: str) -> Column:
    return F.struct(*[F.col(side)[f].alias(f) for f in _SIGNERLESS_FIELDS])


def account_changed_except_signers(changes: DataFrame) -> DataFrame:
    """Filter account changes to those that differ OUTSIDE the signer list
    (cmd/export_ledger_entry_changes.go:123) — a struct comparison excluding
    signer fields; null-safe so created/removed rows always pass."""
    return changes.where(
        (F.col("pre").isNull())
        | (F.col("post").isNull())
        | ~_signerless("pre").eqNullSafe(_signerless("post"))
    )


def account_signers_changed(changes: DataFrame) -> DataFrame:
    """Filter to changes whose signer maps differ (utils/main.go:1031-1098);
    sorted arrays make the comparison order-insensitive."""
    sort = (
        "array_sort({side}.signers, (l, r) -> "
        "CASE WHEN l.key < r.key THEN -1 WHEN l.key > r.key THEN 1 ELSE 0 END)"
    )
    pre_s = F.expr(sort.format(side="pre"))
    post_s = F.expr(sort.format(side="post"))
    return changes.where(
        (F.col("pre").isNull() & F.col("post")["signers"].isNotNull())
        | (F.col("post").isNull() & F.col("pre")["signers"].isNotNull())
        | ~pre_s.eqNullSafe(post_s)
    )


_ROUTES = None


def _routes() -> dict:
    global _ROUTES
    if _ROUTES is None:
        _ROUTES = {
            "accounts": transform_account,
            "account_signers": transform_signers,
            "trustlines": transform_trustline,
            "offers": transform_offer,
            "liquidity_pools": transform_pool,
            "claimable_balances": transform_claimable_balance,
            "contract_code": transform_contract_code,
            "contract_data": transform_contract_data,
            "config_settings": transform_config_setting,
            "ttls": transform_ttl,
        }
    return _ROUTES


_TYPE_OF = {
    "accounts": "account",
    "account_signers": "account",
    "trustlines": "trustline",
    "offers": "offer",
    "liquidity_pools": "liquidity_pool",
    "claimable_balances": "claimable_balance",
    "contract_code": "contract_code",
    "contract_data": "contract_data",
    "config_settings": "config_setting",
    "ttls": "ttl",
}


def route_change(changes: DataFrame, name: str) -> DataFrame:
    """Single-entity routing: identical semantics to
    ``route_changes(changes)[name]`` without building the other nine
    plans (Dataset.select analyzes eagerly — constructing all ten costs
    ~2 s of driver time when the caller wants one)."""
    return _routes()[name](changes.where(F.col("entry_type") == _TYPE_OF[name]))


def route_changes(
    changes: DataFrame, names: Iterable[str] | None = None
) -> dict[str, DataFrame]:
    """Per-entity-type routing (export_ledger_entry_changes.go:116-259):
    one filtered view per entity — Catalyst collapses each into a pruned
    scan of the shared change log.  ``names`` limits the views built to
    those entities (default all ten)."""
    return {name: route_change(changes, name) for name in names or _routes()}
