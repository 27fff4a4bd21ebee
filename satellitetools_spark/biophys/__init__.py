from .nn import (  # noqa: F401
    FEATURE_EXPRS,
    load_nn_params,
    run_nn,
    snap_sql_expr,
)
