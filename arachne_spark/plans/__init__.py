from arachne_spark.plans.compiler import apply_rule_once, atom_relation

__all__ = ["apply_rule_once", "atom_relation"]
