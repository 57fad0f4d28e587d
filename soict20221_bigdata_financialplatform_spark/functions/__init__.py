from soict20221_bigdata_financialplatform_spark.functions.normalize import (
    normalize_bars,
    parse_comma_number,
    parse_pct_change,
    parse_vn_date,
    strip_ws,
)
from soict20221_bigdata_financialplatform_spark.functions.indicators import (
    change_abs,
    change_pct,
    ema,
    rolling_max,
    rolling_min,
    rsi,
    sma,
    with_indicators,
)
from soict20221_bigdata_financialplatform_spark.functions.text import (
    fingerprint,
    lang_id_en_score,
    quality_score,
    token_count,
    with_text_features,
    word_groups,
)

__all__ = [
    "normalize_bars",
    "parse_comma_number",
    "parse_pct_change",
    "parse_vn_date",
    "strip_ws",
    "change_abs",
    "change_pct",
    "ema",
    "rolling_max",
    "rolling_min",
    "rsi",
    "sma",
    "with_indicators",
    "fingerprint",
    "lang_id_en_score",
    "quality_score",
    "token_count",
    "with_text_features",
    "word_groups",
]
