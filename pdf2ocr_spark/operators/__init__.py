"""Spark DataFrame operators wrapping the pure kernels.

The package imports none of its modules: a Python worker that unpickles
the extraction kernel (``operators.extract``) then loads only what that
module needs, not pandas through ``operators.docgen`` (about 0.3 s of
import per fresh worker).
"""
