from splade_easy_spark.functions.text import doc_id_expr, tokenize
from splade_easy_spark.functions.bm25 import idf_expr, bm25_weight_expr
from splade_easy_spark.functions.predicates import in_list

__all__ = ["doc_id_expr", "tokenize", "idf_expr", "bm25_weight_expr", "in_list"]
