"""Operator library: each module registers named queries into
:mod:`project_fauna_spark.registry`."""
