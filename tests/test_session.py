"""``get_spark`` merges the code-cache flag into ``extraJavaOptions``."""

from pyspark import SparkConf

from readur_spark.session import CODE_CACHE_FLAG, _java_options

DRIVER = "spark.driver.extraJavaOptions"
EXECUTOR = "spark.executor.extraJavaOptions"


def _conf(values: dict | None = None) -> SparkConf:
    conf = SparkConf(loadDefaults=False)
    for key, value in (values or {}).items():
        conf.set(key, value)
    return conf


def test_flag_alone_when_nothing_is_set():
    assert _java_options(_conf(), {}) == {DRIVER: CODE_CACHE_FLAG, EXECUTOR: CODE_CACHE_FLAG}


def test_flag_appended_to_the_deployment_value():
    conf = _conf({EXECUTOR: "-Dlog4j.configuration=x -XX:+UseG1GC"})
    got = _java_options(conf, {})
    assert got[EXECUTOR] == f"-Dlog4j.configuration=x -XX:+UseG1GC {CODE_CACHE_FLAG}"
    assert got[DRIVER] == CODE_CACHE_FLAG


def test_callers_value_wins_over_the_conf_and_is_merged():
    conf = _conf({DRIVER: "-Dfrom=conf"})
    got = _java_options(conf, {DRIVER: "-Dfrom=caller"})
    assert got[DRIVER] == f"-Dfrom=caller {CODE_CACHE_FLAG}"


def test_an_existing_code_cache_size_is_kept():
    conf = _conf({EXECUTOR: "-XX:ReservedCodeCacheSize=512m -Dx=1"})
    got = _java_options(conf, {DRIVER: " -XX:ReservedCodeCacheSize=2g "})
    assert got[EXECUTOR] == "-XX:ReservedCodeCacheSize=512m -Dx=1"
    assert got[DRIVER] == "-XX:ReservedCodeCacheSize=2g"


def test_session_executors_get_the_flag(spark):
    assert CODE_CACHE_FLAG in spark.sparkContext.getConf().get(EXECUTOR)
