"""Pure-Python extraction kernels.

These modules import nothing from pyspark — they are the deterministic,
single-threaded ground truth. The Spark pipeline runs them in one Arrow-batched
``mapInArrow`` stage; the golden-file tests run them directly and require
byte-identical output from both paths.
"""
