from spider_engine_spark.functions.tokenizers import (  # noqa: F401
    split_rune_words,
    split_semicolon_words,
    split_true_words,
    split_whole_words,
    tf_weight,
    tokenize_cols_udf,
)
