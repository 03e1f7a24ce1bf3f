from kgpipe_spark.functions.strings import normalize_label  # noqa: F401
from kgpipe_spark.functions.hashing import mint_uri_sha256, stable_order_key  # noqa: F401
from kgpipe_spark.functions.literals import guess_literal_datatype  # noqa: F401
