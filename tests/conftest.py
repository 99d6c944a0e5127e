import pytest


def _alive(session) -> bool:
    """True while the session's JVM process runs and answers the gateway."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is not None:
        return False
    try:
        return not session._jsc.sc().isStopped()
    except (Py4JError, OSError, AttributeError):  # AttributeError: stopped
        return False


def _forget_session() -> None:
    """Drop PySpark's handles on a dead JVM so the next ``get_spark``
    launches a new gateway and context instead of reusing the dead one."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    for close in (
        getattr(SparkContext._active_spark_context, "stop", None),
        getattr(gateway, "shutdown", None),
        getattr(getattr(gateway, "proc", None), "kill", None),
    ):
        try:
            if close is not None:
                close()
        except (Py4JError, OSError):
            pass  # already gone
    SparkContext._active_spark_context = None
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def _offer_jvm_to_oom_killer(session) -> None:
    """Make the session's JVM the kernel OOM killer's first victim.  The
    JVM and this pytest process are the two largest processes; if the
    killer picks pytest, the whole run ends, while a killed JVM costs one
    test because the ``spark`` fixture replaces it."""
    pid = session._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/oom_score_adj", "w") as fh:
            fh.write("1000")
    except OSError:
        pass  # no procfs or not permitted: the kernel's own choice stands


@pytest.fixture
def min_id_components():
    """Reference connected components in pure Python: union-find over an
    edge list, returning ``{(node, min node id of its component)}``."""

    def components(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)  # a root is its set's min
        return {(n, find(n)) for n in list(parent)}

    return components


@pytest.fixture(scope="session")
def _spark_holder():
    return {}


@pytest.fixture
def spark(_spark_holder):
    """One SparkSession shared by the whole run.  If its JVM has died (for
    example OOM-killed during an earlier test), a fresh session is started,
    so a crash costs the test that caused it rather than every test after
    it; the JVM is offered to the OOM killer ahead of pytest itself."""
    from meerkat_abacus_spark.session import get_spark

    session = _spark_holder.get("session")
    if session is not None and not _alive(session):
        _forget_session()
        session = None
    if session is None:
        session = get_spark(app_name="tests", shuffle_partitions=8)
        _offer_jvm_to_oom_killer(session)
        _spark_holder["session"] = session
    return session
