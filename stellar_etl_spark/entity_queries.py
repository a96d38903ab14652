"""Oracle-gated queries over the REAL entity transforms.

Each query derives deterministic stellar-shaped inputs from the driver
tables (transforms/derive.py), runs the production transform functions
(transforms/{transaction,operation,trade,effects,changes}.py — the same
code a real export pipeline calls), and projects SQL-comparable columns so
the driver's DuckDB oracle can grade the transform semantics end to end:
TOID packing, memo/bounds handling, the details switch, sponsor scans,
claim-atom fan-out with the reverse price scan, result-driven effect
chains, and the state-entity family.

Column selection rules: no FarmHash asset ids (not SQL-derivable), no raw
timestamps (cast to epoch seconds), JSON details probed via typed
``get_json_object`` extracts rather than whole-blob string compares.

Scale: every query here inherits the underlying transform's plan shape —
narrow per-row projections, broadcast ledger-header joins, struct-internal
array scans instead of joins — so the oracle gate doubles as a regression
pin on those plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stellar_etl_spark.catalog import table
from stellar_etl_spark.transforms.derive import (
    derived_changes,
    derived_operations_details,
    derived_operations_effects,
    derived_operations_sponsorship,
    derived_operations_trades,
    derived_transactions,
)


def _cached_input(spark, sf_dir: str, name: str, build):
    """Optionally materialize a derived synthetic-input frame to parquet
    ONCE per (sf_dir, name) and read it back.

    Enabled by ``SPARK_GRAFT_CACHE_DERIVED=1`` (bench.py sets it): the
    entity-transform BENCH timings then measure the transform expression
    trees over a parquet scan — the shape a real deployment has — instead
    of re-paying the synthetic-input construction per run, making
    regressions attributable (round-2 advice item 9).  Correctness runs
    leave the flag unset and build inline; rows are identical either way
    (derive.py is deterministic).
    """
    import os as _os

    if _os.environ.get("SPARK_GRAFT_CACHE_DERIVED") != "1":
        return build()
    import hashlib as _hashlib

    # the derive-code version rides in the key: a derive.py edit must MISS
    # the cache, not silently serve rows from the previous code (round-3
    # advice — stale /tmp entries survived code changes)
    derive_src = _os.path.join(_os.path.dirname(__file__), "transforms", "derive.py")
    try:
        with open(derive_src, "rb") as fh:
            code_ver = _hashlib.md5(fh.read()).hexdigest()[:8]
    except OSError:
        code_ver = "nocode"
    key = _hashlib.md5(f"{sf_dir}:{name}:{code_ver}".encode()).hexdigest()[:16]
    path = f"/tmp/stellar_etl_derived/{name}-{key}"
    if not _os.path.isdir(path):
        tmp = f"{path}.tmp{_os.getpid()}"
        build().write.mode("overwrite").parquet(tmp)
        try:
            _os.rename(tmp, path)
        except OSError:  # concurrent builder won the race
            import shutil as _shutil

            _shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)


def _wide(df: DataFrame) -> DataFrame:
    """Fan a CPU-heavy derived stage out to full cluster width.

    Input partitioning follows file BYTES (maxPartitionBytes), but these
    stages are per-row CPU-bound (the wide effects/details expressions) and
    narrow — so without an exchange the whole pipeline runs at scan width.
    One narrow round-robin repartition of the derived rows buys width =
    default parallelism; at cluster scale the input is already wide and the
    exchange is noise."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def tx_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform_transaction over derived txs (transaction.go:20-275):
    TOID ids, memo switch, ``[a,b)`` bounds (invalid max<min rows dropped,
    max==0 unbounded), fee-bump/soroban field nulling, and the pre-21
    fee-bump+soroban fee recompute."""
    from stellar_etl_spark.transforms.transaction import transform_transaction

    out = transform_transaction(
        derived_transactions(_wide(table(spark, sf_dir, "orders")))
    )
    return out.select(
        "id",
        "transaction_hash",
        "ledger_sequence",
        F.col("application_order").cast("long").alias("application_order"),
        "account",
        "account_muxed",
        "account_sequence",
        "max_fee",
        "fee_charged",
        "successful",
        F.col("operation_count").cast("long").alias("operation_count"),
        F.col("closed_at").cast("long").alias("closed_at_unix"),
        "memo_type",
        "memo",
        "time_bounds",
        "ledger_bounds",
        "min_account_sequence",
        "min_account_sequence_age",
        "min_account_sequence_ledger_gap",
        "inner_transaction_hash",
        "fee_account",
        "new_max_fee",
        "resource_fee",
        "soroban_resources_instructions",
        "soroban_resources_read_bytes",
        "soroban_resources_write_bytes",
        "inclusion_fee_bid",
        "inclusion_fee_charged",
        "resource_fee_refund",
        "non_refundable_resource_fee_charged",
        "refundable_resource_fee_charged",
        "rent_fee_charged",
        "transaction_result_code",
    )


def op_details_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform_operation over six detail families (operation.go:584-1173):
    per-type sparse details, tx-source fallback (operation.go:287-294), and
    the change-array sponsor scan (operation.go:296-358)."""
    from stellar_etl_spark.transforms.operation import transform_operation

    li = table(spark, sf_dir, "lineitem")
    out = transform_operation(
        _cached_input(spark, sf_dir, "ops_details",
                      lambda: derived_operations_details(_wide(li))),
        # round-9: only the detail fields this projection reads — prunes
        # the other ~70 (incl. the 4 asset-id ArrowEvalPython UDFs) and
        # skips the begin-ops second scan (see transform_operation)
        detail_fields=[
            "from", "to", "amount", "asset_type", "asset_code",
            "asset_issuer", "trustee", "trustor", "starting_balance",
            "account", "offer_id", "selling_asset_type",
            "buying_asset_type", "price", "price_r", "limit",
            "data_name", "data_value", "bump_to",
        ],
    )
    d = F.col("details")
    return out.select(
        "id",
        "transaction_id",
        "transaction_hash",
        "ledger_sequence",
        F.col("application_order").cast("long").alias("application_order"),
        "source_account",
        F.col("type").cast("long").alias("type"),
        "type_string",
        "transaction_successful",
        "sponsor",
        d["from"].alias("d_from"),
        d["to"].alias("d_to"),
        d["amount"].alias("d_amount"),
        d["asset_type"].alias("d_asset_type"),
        d["asset_code"].alias("d_asset_code"),
        d["asset_issuer"].alias("d_asset_issuer"),
        d["trustee"].alias("d_trustee"),
        d["trustor"].alias("d_trustor"),
        d["starting_balance"].alias("d_starting_balance"),
        d["account"].alias("d_account"),
        d["offer_id"].alias("d_offer_id"),
        d["selling_asset_type"].alias("d_selling_asset_type"),
        d["buying_asset_type"].alias("d_buying_asset_type"),
        d["price"].alias("d_price"),
        d["price_r"]["n"].cast("long").alias("d_price_n"),
        d["price_r"]["d"].cast("long").alias("d_price_d"),
        d["limit"].alias("d_limit"),
        d["data_name"].alias("d_data_name"),
        d["data_value"].alias("d_data_value"),
        d["bump_to"].alias("d_bump_to"),
    )


def op_sponsorship_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform_operation over begin/end sponsoring pairs: the in-tx
    back-scan that resolves an end op's begin sponsor
    (findInitatingBeginSponsoringOp, operation.go:533-553)."""
    from stellar_etl_spark.transforms.operation import transform_operation

    li = table(spark, sf_dir, "lineitem")
    out = transform_operation(
        _cached_input(spark, sf_dir, "ops_sponsorship",
                      lambda: derived_operations_sponsorship(_wide(li))),
        # round-9: this projection reads exactly two detail fields; the
        # begin-ops back-scan stays (begin_sponsor needs it)
        detail_fields=["sponsored_id", "begin_sponsor"],
    )
    d = F.col("details")
    return out.select(
        "id",
        F.col("type").cast("long").alias("type"),
        "type_string",
        "source_account",
        d["sponsored_id"].alias("d_sponsored_id"),
        d["begin_sponsor"].alias("d_begin_sponsor"),
    )


def trade_atoms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform_trade over derived claim atoms (trade.go:21-162): 1→N
    fan-out, 0/0-atom skip, last-matching-pre price scan, LP pool fee,
    synthetic TOID-typed buying offer id."""
    from stellar_etl_spark.transforms.trade import transform_trade

    li = table(spark, sf_dir, "lineitem")
    # deterministic 1/3 slice: the wall cost here is SYNTHETIC input
    # construction (600k 2-atom nested structs through Generate), not the
    # transform — a third exercises every branch at a third the build cost
    li = li.where(F.col("l_orderkey") % 3 == 1)
    out = transform_trade(
        _cached_input(spark, sf_dir, "ops_trades",
                      lambda: derived_operations_trades(_wide(li)))
    )
    return out.select(
        "history_operation_id",
        F.col("order").cast("long").alias("trade_order"),
        F.col("ledger_closed_at").cast("long").alias("ledger_closed_at_unix"),
        "selling_account_address",
        "selling_amount",
        "buying_amount",
        "price_n",
        "price_d",
        F.col("trade_type").cast("long").alias("trade_type"),
        "selling_liquidity_pool_id",
        F.col("liquidity_pool_fee").cast("long").alias("liquidity_pool_fee"),
        "selling_offer_id",
        "buying_offer_id",
    )


def effects_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform_effects over the result-driven families
    (effects.go:401-832): create_account's 3-effect chain, payment
    credited/debited, account_merge's 3-effect chain, per-payout inflation
    fan-out, manage_data create-vs-remove, sequence_bumped — plus the
    only-successful-txs gate (effects.go:55-57) and "{op_id}-{idx}" ids."""
    from stellar_etl_spark.transforms.effects import transform_effects

    # ONE field spec drives both the transform's struct emission and the
    # output projection (name, emitted_ddl_type[, output_cast]) — adding a
    # consumed field here automatically reaches both sides (round-10: the
    # keep list and the parse list used to be hand-duplicated).
    fields = (
        ("amount", "string", "double"),
        ("asset_type", "string"),
        ("asset_code", "string"),
        ("starting_balance", "string", "double"),
        ("name", "string"),
        ("new_seq", "long"),
    )
    li = table(spark, sf_dir, "lineitem")
    out = transform_effects(
        _cached_input(spark, sf_dir, "ops_effects",
                      lambda: derived_operations_effects(_wide(li))),
        # round-10: details arrive as a typed struct of exactly these
        # fields — the to_json→from_json round trip on ~10 M effect rows
        # is gone; field values are identical to parsing the full JSON
        detail_types=[(f[0], f[1]) for f in fields],
    )
    d = F.col("details")
    return out.select(
        "id",
        "operation_id",
        F.col("index").cast("long").alias("index"),
        F.col("type").cast("long").alias("type"),
        "type_string",
        "address",
        "ledger_sequence",
        F.col("operation_type").cast("long").alias("operation_type"),
        *[
            (d[f[0]].cast(f[2]) if len(f) == 3 else d[f[0]]).alias(f"d_{f[0]}")
            for f in fields
        ],
    )


def _changes_common(out: DataFrame) -> list[F.Column]:
    return [
        F.col("ledger_sequence"),
        F.col("closed_at").cast("long").alias("closed_at_unix"),
        F.col("last_modified_ledger"),
        F.col("ledger_entry_key"),
        F.col("sponsor"),
        F.col("deleted"),
    ]


def changes_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """route_changes → transform_account (account.go:13-112): pre-for-
    removed entry extraction, threshold unpacking, liability conversion."""
    from stellar_etl_spark.transforms.changes import route_change

    ev = table(spark, sf_dir, "events")
    out = route_change(_cached_input(spark, sf_dir, "changes", lambda: derived_changes(ev)), "accounts")
    return out.select(
        "account_id",
        "balance",
        "sequence_number",
        F.col("num_subentries").cast("long").alias("num_subentries"),
        F.col("num_sponsored").cast("long").alias("num_sponsored"),
        F.col("num_sponsoring").cast("long").alias("num_sponsoring"),
        F.col("flags").cast("long").alias("flags"),
        "home_domain",
        F.col("master_weight").cast("long").alias("master_weight"),
        F.col("threshold_low").cast("long").alias("threshold_low"),
        F.col("threshold_medium").cast("long").alias("threshold_medium"),
        F.col("threshold_high").cast("long").alias("threshold_high"),
        "buying_liabilities",
        "selling_liabilities",
        *_changes_common(out),
    )


def changes_trustlines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """route_changes → transform_trustline (trustline.go:18-91) incl. the
    pool-share branch (pool_id set → asset columns nulled)."""
    from stellar_etl_spark.transforms.changes import route_change

    ev = table(spark, sf_dir, "events")
    out = route_change(_cached_input(spark, sf_dir, "changes", lambda: derived_changes(ev)), "trustlines")
    return out.select(
        "account_id",
        "asset_type",
        "asset_code",
        "asset_issuer",
        "liquidity_pool_id",
        "balance",
        "trust_line_limit",
        F.col("flags").cast("long").alias("flags"),
        "buying_liabilities",
        "selling_liabilities",
        *_changes_common(out),
    )


def changes_offers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """route_changes → transform_offer (offer.go:13-103): float AND
    rational price."""
    from stellar_etl_spark.transforms.changes import route_change

    ev = table(spark, sf_dir, "events")
    out = route_change(_cached_input(spark, sf_dir, "changes", lambda: derived_changes(ev)), "offers")
    return out.select(
        "seller_id",
        "offer_id",
        "selling_asset_type",
        "buying_asset_type",
        "amount",
        F.col("pricen").cast("long").alias("pricen"),
        F.col("priced").cast("long").alias("priced"),
        "price",
        F.col("flags").cast("long").alias("flags"),
        *_changes_common(out),
    )


def changes_pools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """route_changes → transform_pool (liquidity_pool.go:13-90)."""
    from stellar_etl_spark.transforms.changes import route_change

    ev = table(spark, sf_dir, "events")
    out = route_change(_cached_input(spark, sf_dir, "changes", lambda: derived_changes(ev)), "liquidity_pools")
    return out.select(
        "liquidity_pool_id",
        "type",
        F.col("fee").cast("long").alias("fee"),
        "trustline_count",
        "pool_share_count",
        "asset_a_type",
        "asset_a_amount",
        "asset_b_type",
        "asset_b_amount",
        *_changes_common(out),
    )


def signers_weight_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """route_changes → transform_signers (account_signer.go:14-55): the
    weight-then-key sorted explode with per-signer sponsors."""
    from stellar_etl_spark.transforms.changes import route_change

    ev = table(spark, sf_dir, "events")
    out = route_change(_cached_input(spark, sf_dir, "changes", lambda: derived_changes(ev)), "account_signers")
    return out.select(
        "account_id",
        "signer",
        F.col("weight").cast("long").alias("weight"),
        "sponsor",
        F.col("signer_order").cast("long").alias("signer_order"),
        "ledger_sequence",
        "ledger_entry_key",
        "deleted",
    )


def token_transfer_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """derive_token_transfer_events → transform_token_transfer end to end
    (token_transfer.go:14-76 + stellar/go EventsProcessor classic rules):
    create_account/merge native transfers, payment transfer vs issuer
    mint/burn, clawback, and per-tx fee events with null operation ids.
    ``contract_id`` (sha256+strkey, not SQL-derivable) is excluded from the
    projection."""
    from stellar_etl_spark.transforms.derive import derived_token_ops
    from stellar_etl_spark.transforms.token_events import (
        derive_token_transfer_events,
    )
    from stellar_etl_spark.transforms.token_transfer import (
        transform_token_transfer,
    )

    li = table(spark, sf_dir, "lineitem")
    events = derive_token_transfer_events(
        _cached_input(
            spark, sf_dir, "ops_token",
            lambda: derived_token_ops(_wide(li)),
        ),
        derived_transactions(table(spark, sf_dir, "orders")),
    )
    out = transform_token_transfer(events)
    return out.select(
        "transaction_id",
        "operation_id",
        "transaction_hash",
        "ledger_sequence",
        F.col("closed_at").cast("long").alias("closed_at_unix"),
        "event_topic",
        "asset",
        "asset_type",
        "asset_code",
        "asset_issuer",
        F.col("from").alias("from_address"),
        F.col("to").alias("to_address"),
        "amount_raw",
        "amount",
    )


def changes_claimable_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """route_changes → transform_claimable_balance (claimable_balance.go:
    24-77): nested claimants (projected as a joined destination list),
    asset columns, stroops amount.  ``balance_id_strkey``/``asset_id``
    (strkey / FarmHash UDFs) are excluded from the SQL projection."""
    from stellar_etl_spark.transforms.changes import route_change
    from stellar_etl_spark.transforms.derive import derived_soroban_changes

    ev = table(spark, sf_dir, "events")
    out = route_change(derived_soroban_changes(ev), "claimable_balances")
    return out.select(
        "balance_id",
        F.array_join(
            F.transform(F.col("claimants"), lambda c: c["destination"]), ","
        ).alias("claimants_list"),
        "asset_type",
        "asset_code",
        "asset_issuer",
        "asset_amount",
        F.col("flags").cast("long").alias("flags"),
        *_changes_common(out),
    )


def changes_contract_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """route_changes → transform_contract_data (contract_data.go:49-379):
    the nonce filter, key/val passthrough, sha256 ledger-key hashes, AND
    the full SAC path: genuine contract ids in the derived input are
    hashlib-precomputed constants, so the transform's JVM-side
    HashIDPreimage sha256 re-derivation is checked against an independent
    implementation, and the oracle grades the verified-vs-forged outcome
    per row plus the balance rows surviving the 3-entry/non-negative-hi
    gates, with the i128 balance assembled in HUGEINT.  strkey columns
    (contract_id, asset_issuer, balance_holder) are excluded;
    ``has_holder`` proves the balance gate without the strkey rendering."""
    from stellar_etl_spark.transforms.changes import route_change
    from stellar_etl_spark.transforms.derive import derived_soroban_changes

    ev = table(spark, sf_dir, "events")
    out = route_change(derived_soroban_changes(ev), "contract_data")
    return out.select(
        "contract_key_type",
        "contract_durability",
        "asset_type",
        "asset_code",
        # same null gate as balance_holder (both are when(balance_ok, ...))
        # without forcing the strkey UDF into the plan for an isNotNull
        F.col("balance").isNotNull().alias("has_holder"),
        "balance",
        "key",
        "key_decoded",
        "val",
        "val_decoded",
        "contract_data_xdr",
        "ledger_key_hash",
        "ledger_key_hash_base_64",
        *_changes_common(out),
    )


def changes_contract_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """route_changes → transform_contract_code (contract_code.go:12-101):
    the wasm cost-input surface from ext V1 (null for V0 entries)."""
    from stellar_etl_spark.transforms.changes import route_change
    from stellar_etl_spark.transforms.derive import derived_soroban_changes

    ev = table(spark, sf_dir, "events")
    out = route_change(derived_soroban_changes(ev), "contract_code")
    return out.select(
        "contract_code_hash",
        F.col("contract_code_ext_v").cast("long").alias("contract_code_ext_v"),
        "contract_code",
        "n_instructions",
        "n_functions",
        "n_globals",
        "n_table_entries",
        "n_types",
        "n_data_segments",
        "n_elem_segments",
        "n_imports",
        "n_exports",
        "n_data_segment_bytes",
        "ledger_key_hash",
        "ledger_key_hash_base_64",
        *_changes_common(out),
    )


def changes_config_settings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """route_changes → transform_config_setting (config_setting.go:13-101):
    one ConfigSettingEntry union arm per row — every other scalar must be
    its Go zero value, vectors empty arrays (projected joined)."""
    from stellar_etl_spark.transforms.changes import route_change
    from stellar_etl_spark.transforms.derive import derived_soroban_changes

    ev = table(spark, sf_dir, "events")
    out = route_change(derived_soroban_changes(ev), "config_settings")
    return out.select(
        F.col("config_setting_id").cast("long").alias("config_setting_id"),
        "contract_max_size_bytes",
        "ledger_max_instructions",
        "tx_max_instructions",
        "fee_read_1kb",
        "ledger_max_tx_count",
        F.array_join(F.col("bucket_list_size_window"), ",").alias(
            "bucket_window_list"
        ),
        F.array_join(F.col("contract_cost_params_cpu_insns"), ",").alias(
            "cpu_cost_params_list"
        ),
        F.array_join(F.col("contract_cost_params_mem_bytes"), ",").alias(
            "mem_cost_params_list"
        ),
        *_changes_common(out),
    )


def changes_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """route_changes → transform_ttl (ttl.go:12-49)."""
    from stellar_etl_spark.transforms.changes import route_change
    from stellar_etl_spark.transforms.derive import derived_soroban_changes

    ev = table(spark, sf_dir, "events")
    out = route_change(derived_soroban_changes(ev), "ttls")
    return out.select(
        "key_hash",
        "live_until_ledger_seq",
        *_changes_common(out),
    )


def contract_events_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform_contract_events (contract_events.go:20-104): the
    contract-vs-system/diagnostic filter (operation.go:1886-1905), TOID
    transaction id, and the dual base64/JSON topic+data serializations
    (arrays projected joined)."""
    from stellar_etl_spark.transforms.contract_events import (
        transform_contract_events,
    )
    from stellar_etl_spark.transforms.derive import derived_contract_events

    ev = table(spark, sf_dir, "events")
    out = transform_contract_events(derived_contract_events(ev))
    return out.select(
        "transaction_id",
        "transaction_hash",
        "ledger_sequence",
        F.col("closed_at").cast("long").alias("closed_at_unix"),
        "contract_id",
        F.col("type").cast("long").alias("type"),
        "type_string",
        "in_successful_contract_call",
        "successful",
        F.array_join(F.col("topics"), ",").alias("topics_list"),
        F.array_join(F.col("topics_decoded"), ",").alias("topics_decoded_list"),
        "data",
        "data_decoded",
        "contract_event_xdr",
    )


def ledger_tx_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform_ledger_transaction (ledger_transaction.go:13-58): the
    raw-XDR passthrough table with the tx row's closed_at and
    tx_ledger_history."""
    from stellar_etl_spark.transforms.transaction import (
        transform_ledger_transaction,
    )

    out = transform_ledger_transaction(
        derived_transactions(table(spark, sf_dir, "orders"))
    )
    return out.select(
        "ledger_sequence",
        F.col("application_order").cast("long").alias("application_order"),
        "transaction_hash",
        "tx_envelope",
        "tx_result",
        "tx_meta",
        "tx_fee_meta",
        "tx_ledger_history",
        F.col("closed_at").cast("long").alias("closed_at_unix"),
    )


def _derived_offers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live offer entries (entry struct extracted) from the derived change
    log — the input surface transform_offer_normalized documents."""
    from stellar_etl_spark.transforms.changes import extract_entry_from_change

    ev = table(spark, sf_dir, "events")
    ch = derived_changes(ev).where(F.col("entry_type") == "offer")
    e = extract_entry_from_change(ch)
    entry = F.col("entry")
    return e.select(
        entry["seller_id"].alias("seller_id"),
        entry["offer_id"].alias("offer_id"),
        entry["selling"].alias("selling"),
        entry["buying"].alias("buying"),
        entry["amount"].alias("amount"),
        entry["price_n"].alias("price_n"),
        entry["price_d"].alias("price_d"),
        "ledger_sequence",
    )


def offer_star_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform_offer_normalized fact table (schema.go FactOfferEvent:
    ledger + offer instance id only); the instance id is FNV-64a of the
    "%d/%f/%f" (id, REAL amount, price) preimage (extractDimOffer) —
    re-derived bit-exactly by the oracle with a HUGEINT list_reduce fold."""
    from stellar_etl_spark.transforms.offer_normalized import (
        transform_offer_normalized,
    )

    out = transform_offer_normalized(_derived_offers(spark, sf_dir))[
        "fact_offer_events"
    ]
    return out.select("ledger_id", "offer_instance_id")


def offer_star_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform_offer_normalized dim_accounts: FNV id + hash-dedup by id
    (input/orderbooks.go:72-118 seen-set semantics → dropDuplicates)."""
    from stellar_etl_spark.transforms.offer_normalized import (
        transform_offer_normalized,
    )

    out = transform_offer_normalized(_derived_offers(spark, sf_dir))[
        "dim_accounts"
    ]
    return out.select("account_id", "address")


def offer_star_offers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform_offer_normalized dim_offers — the full DimOffer column set
    (schema.go:317-326): horizon id, FNV dim/market/maker ids, 's'/'b'
    action by sorted-base membership, REAL base/counter amounts, price."""
    from stellar_etl_spark.transforms.offer_normalized import (
        transform_offer_normalized,
    )

    out = transform_offer_normalized(_derived_offers(spark, sf_dir))[
        "dim_offers"
    ]
    return out.select(
        "horizon_offer_id", "dim_offer_id", "market_id", "maker_id",
        "action", "base_amount", "counter_amount", "price",
    )


def offer_star_markets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform_offer_normalized dim_markets — sorted base/counter
    code+issuer split (extractDimMarket)."""
    from stellar_etl_spark.transforms.offer_normalized import (
        transform_offer_normalized,
    )

    out = transform_offer_normalized(_derived_offers(spark, sf_dir))[
        "dim_markets"
    ]
    return out.select(
        "market_id", "base_code", "base_issuer",
        "counter_code", "counter_issuer",
    )


ENTITY_QUERIES = {
    "tx_projection": tx_projection,
    "op_details_switch": op_details_switch,
    "op_sponsorship_scan": op_sponsorship_scan,
    "trade_atoms": trade_atoms,
    "effects_fanout": effects_fanout,
    "changes_accounts": changes_accounts,
    "changes_trustlines": changes_trustlines,
    "changes_offers": changes_offers,
    "changes_pools": changes_pools,
    "signers_weight_explode": signers_weight_explode,
    "changes_claimable_balances": changes_claimable_balances,
    "changes_contract_data": changes_contract_data,
    "changes_contract_code": changes_contract_code,
    "changes_config_settings": changes_config_settings,
    "changes_ttl": changes_ttl,
    "contract_events_decode": contract_events_decode,
    "offer_star_fact": offer_star_fact,
    "offer_star_dims": offer_star_dims,
    "ledger_tx_passthrough": ledger_tx_passthrough,
    "token_transfer_classify": token_transfer_classify,
}
