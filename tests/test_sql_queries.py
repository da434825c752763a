"""Engine-SQL equivalence for the SQL-text queries: every query whose
body is ``register_views`` + one ``spark.sql`` call must keep passing
the same text to the engine, and keep the same oracle text. The sha256
digests below were taken from the code before these queries became
table rows; a change to any SQL-text query that alters either text
fails here before it can move a plan or a hash."""

from __future__ import annotations

import hashlib

import pytest

from simplemapreduceframework_spark import registry

registry.load_all()

# name -> (sha256 of the text run by spark.sql, sha256 of the oracle)
_SQL_DIGESTS = {
    "q26_sql_api": (
        "4eb3b0e6a5b938c67b1fb4133112a55cbf10e2eb1c2195197ef7d5312b93d5e8",
        "4eb3b0e6a5b938c67b1fb4133112a55cbf10e2eb1c2195197ef7d5312b93d5e8",
    ),
    "q29_large_orders": (
        "2b814bb4de804b68c0b4fcfa3f43da81c281543539d31489499fb24cf7db5513",
        "1cb7ae98631496a66834e4f7ea1b63e2916c7413e5e6f6397d846421f0b9673a",
    ),
    "q30_min_cost_supplier": (
        "de19a3daeddb6733326fb5e49259ba3e11ff889eeee08bf4bac0e09c413040cd",
        "de19a3daeddb6733326fb5e49259ba3e11ff889eeee08bf4bac0e09c413040cd",
    ),
    "q31_important_stock": (
        "a8ebb144b2194bf5893c2b095e070e41b220fa1c5b8b9d5eb913640e29a8cf29",
        "a8ebb144b2194bf5893c2b095e070e41b220fa1c5b8b9d5eb913640e29a8cf29",
    ),
    "q32_suppliers_who_kept_waiting": (
        "99853a7bc2b2f183de0452866a60d7ff3c1cc6b0889a3cadab423e2effe93d1f",
        "99853a7bc2b2f183de0452866a60d7ff3c1cc6b0889a3cadab423e2effe93d1f",
    ),
    "q33_global_sales_opportunity": (
        "df7bdf43f412d4b46e8dabf5526bb44a9b90e3275638388cb88f8697e88892ce",
        "df7bdf43f412d4b46e8dabf5526bb44a9b90e3275638388cb88f8697e88892ce",
    ),
    "q34_event_funnel": (
        "b54cad60d4d2cb0e11aa6f16d31fb70e54595a6ac3f597044edd1c1880b128af",
        "b54cad60d4d2cb0e11aa6f16d31fb70e54595a6ac3f597044edd1c1880b128af",
    ),
    "q35_grouping_sets": (
        "734ea372bafa9ae6d3e2b688d2213a2b0678c91f5685ae96c2d37184f9ac8924",
        "734ea372bafa9ae6d3e2b688d2213a2b0678c91f5685ae96c2d37184f9ac8924",
    ),
    "q36_lateral_topn": (
        "6253892d1c1a3e12801cf1bc45dfb90d51d410861f745af993664b8866df67d9",
        "6253892d1c1a3e12801cf1bc45dfb90d51d410861f745af993664b8866df67d9",
    ),
    "q37_range_frame_window": (
        "c8b71ec3780b76c2c963b78244e5901633baef80a02182d84278f5e99071cae5",
        "c8b71ec3780b76c2c963b78244e5901633baef80a02182d84278f5e99071cae5",
    ),
    "q38_disjunctive_predicate": (
        "afc78771831bd85744b8f08033e136e8eadc398b0c3203c3d309b0a2fb2000b6",
        "afc78771831bd85744b8f08033e136e8eadc398b0c3203c3d309b0a2fb2000b6",
    ),
    "events_outlier_mad": (
        "07a204455f7430c1adc01aefd3c54594b589ecbd5a4db5ff2e7e7f6f5210e820",
        "cd9c1ff847c1126335eb44aa9e92b3da58dc3cea8fe3f8e4441f5971bfee1099",
    ),
    "q39_nation_volume": (
        "7ffe09b9540f48b646747d5f7837730911c07cc8cf254d48ff76e7e60d65c4df",
        "7ffe09b9540f48b646747d5f7837730911c07cc8cf254d48ff76e7e60d65c4df",
    ),
    "q40_window_distribution": (
        "35c0e3e7fa97a7f0ff3ca193a9b1cfc8c8218db91437dd6783319ff13d6edc91",
        "35c0e3e7fa97a7f0ff3ca193a9b1cfc8c8218db91437dd6783319ff13d6edc91",
    ),
    "table_skew_report": (
        "110e2135286a3d9c2bc822912842ade04be4defaa4d759038a710bd263ffb119",
        "a7d42b12669633d2f0f5a7e67b1c9ee2d4ed4a56065d8a57c6f95b651dc423d1",
    ),
    "q41_top_supplier": (
        "6ef30dd4baa450492a126429cf05922c17a0b541e6bb6508094992d4d96289f6",
        "6ef30dd4baa450492a126429cf05922c17a0b541e6bb6508094992d4d96289f6",
    ),
    "customer_rfm_segments": (
        "ced1947f7ab20037ff06ff4e4409077657bd43638070c94dd2c16805660b88e5",
        "19ad963c83a23cffcbea9997c53765c256adfcd4c6b7884ffbca7276a87146af",
    ),
    "q42_product_profit": (
        "6d6a4425e100583902614343d5682d2cab8275ffdecc22eb54634531f10fcc4e",
        "6d6a4425e100583902614343d5682d2cab8275ffdecc22eb54634531f10fcc4e",
    ),
    "q43_market_share": (
        "8b6b3aa4d1957f84716238e7cab10240174e1e9539e28fc14a3f3b578b014d29",
        "8b6b3aa4d1957f84716238e7cab10240174e1e9539e28fc14a3f3b578b014d29",
    ),
    "q44_order_count_distribution": (
        "a933aa0e9b8d9d6b2df80cc02936b36dad87212a55fa1f14e7f8b2b3dc3d08c6",
        "a933aa0e9b8d9d6b2df80cc02936b36dad87212a55fa1f14e7f8b2b3dc3d08c6",
    ),
    "q45_small_quantity_revenue": (
        "97204c91edb02faafc661f5ec6eb09b91169ae92cd932e922e64b0e4c7cb15ad",
        "2fd3b6af7410faa795aa8d9b8e607af98c1a86c37e9ec41db331490fc0c58403",
    ),
    "q46_bulk_widget_suppliers": (
        "5fa36988f0e74ad3750f3fa4ec1d4254296425985160aeee932cd6e330cd4f6f",
        "5fa36988f0e74ad3750f3fa4ec1d4254296425985160aeee932cd6e330cd4f6f",
    ),
    "q47_reorder_streaks": (
        "53d4508c9caed28bc68d6ef033a5ff63ae6d85133a50880546f20c761c0bceb5",
        "2b0ac5a220953d8b9e2794aba6c734d616126c04b0f11bc9cf3c2c58f3be6114",
    ),
}

# the queries whose engine text is not their oracle text
_ENGINE_TEXT_DIFFERS = {
    "q29_large_orders",
    "events_outlier_mad",
    "q45_small_quantity_revenue",
    "q47_reorder_streaks",
    "table_skew_report",
    "customer_rfm_segments",
}


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def _engine_text(spark, sf_dir, name, monkeypatch) -> str:
    recorded = []

    def rec(text, *args, **kwargs):
        recorded.append(text)
        return None

    monkeypatch.setattr(spark, "sql", rec)
    registry.QUERIES[name](spark, sf_dir)
    assert len(recorded) == 1, recorded
    return recorded[0]


@pytest.mark.parametrize("name", sorted(_SQL_DIGESTS))
def test_sql_query_texts_unchanged(spark, sf_dir, name, monkeypatch):
    engine = _engine_text(spark, sf_dir, name, monkeypatch)
    oracle = registry.ORACLES[name]
    assert (_sha256(engine), _sha256(oracle)) == _SQL_DIGESTS[name]
    assert (engine != oracle) == (name in _ENGINE_TEXT_DIFFERS)


def test_sql_query_engine_text_split():
    assert len(_SQL_DIGESTS) == 23
    assert _ENGINE_TEXT_DIFFERS <= set(_SQL_DIGESTS)
