"""Gate definition modules, imported here in registration order: each
module's @query decorators append its surfaces to the one registry
(pdf_brain_spark/registry.py), so importing any gate module registers
every gate, always in this order. Import a gate function or helper from
the module that defines it. replay.py holds the stream-replay harness the
streaming gates share.
"""

import pdf_brain_spark.gates.core  # noqa: F401
import pdf_brain_spark.gates.quality_temporal  # noqa: F401
import pdf_brain_spark.gates.composites  # noqa: F401
import pdf_brain_spark.gates.r8_corpus_a  # noqa: F401
import pdf_brain_spark.gates.r8_corpus_b  # noqa: F401
import pdf_brain_spark.gates.r9_r10  # noqa: F401
import pdf_brain_spark.gates.r11  # noqa: F401
