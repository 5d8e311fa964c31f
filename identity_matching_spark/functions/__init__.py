from identity_matching_spark.functions.normalize import (  # noqa: F401
    clean_email,
    clean_name,
    name_key,
    normalize_spaces,
    strip_accents_col,
    strip_accents_py,
)
