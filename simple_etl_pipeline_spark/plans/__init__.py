"""Query plans: each module exposes QUERIES (name -> (spark, sf_dir) ->
DataFrame) and ORACLES (name -> DuckDB SQL twin), with the same names;
__spark_entry__.queries()/oracle_sql() merge them."""
