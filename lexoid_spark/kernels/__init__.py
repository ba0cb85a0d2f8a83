"""Pure-Python extraction kernels.

Each kernel is a plain function ``bytes|str -> str|list`` with no Spark
dependency, so it unit-tests byte-identically without a session; the
dispatch kernel and ``row_udf`` in ``lexoid_spark.functions.udfs`` lift
it to Arrow batches.
"""
