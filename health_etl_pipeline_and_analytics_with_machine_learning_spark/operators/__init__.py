# Importing the operator modules populates the query registry, in import
# order. The order the correctness run sees is computed on demand by
# ``certification.correctness_order`` (``__spark_entry__.queries()``).
from . import relational, scaled  # noqa: F401
from . import prep, similarity, skew, multimodal  # noqa: F401
from . import text, dedup, curation, advanced, events, joins  # noqa: F401
from . import warehouse, tpch, mining  # noqa: F401
