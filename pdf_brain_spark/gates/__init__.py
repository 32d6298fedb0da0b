"""Gate definition modules. pdf_brain_spark.queries imports them in
registration order and exports only the registry API; import a gate
function or helper from the module that defines it. replay.py holds the
stream-replay harness the streaming gates share.
"""
