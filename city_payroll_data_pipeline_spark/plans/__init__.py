"""Industry transform plans (the medallion DAG as function composition).

Each reference SQLMesh model file becomes one pure
``DataFrame -> DataFrame`` function; the SQLMesh dependency DAG
(raw CSV -> stg_<industry> -> fct_<industry>) becomes explicit
composition ``fct(stg(raw))``. Catalyst sees the whole chain as one
logical plan, so column pruning and filter pushdown traverse both
layers — something the reference's materialize-each-layer design
cannot do.
"""

from city_payroll_data_pipeline_spark.plans import corporate, education, hospital

PIPELINES = {
    "corporate": (corporate.stg_corporate, corporate.fct_corporate),
    "education": (education.stg_education, education.fct_education),
    "hospital": (hospital.stg_hospital, hospital.fct_hospital),
}

__all__ = ["PIPELINES", "corporate", "education", "hospital"]
