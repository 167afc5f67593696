from arachne_spark.plans.compiler import (
    alpha_filter,
    apply_head,
    apply_rule_once,
    atom_relation,
    bind_vars,
    compile_body,
    join_chain,
)

__all__ = [
    "alpha_filter",
    "apply_head",
    "apply_rule_once",
    "atom_relation",
    "bind_vars",
    "compile_body",
    "join_chain",
]
