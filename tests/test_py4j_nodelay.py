"""TCP_NODELAY on the JVM end of the py4j connections lineage extraction
uses. With Nagle on, every reply longer than 8 KB (a plan's ``toJSON()``)
stalls ~40 ms on the Python end's delayed ACK; ``session.gateway_no_delay``
turns it off per connection, ``tune()`` for the calling thread and the
lineage listener for its callback thread.

Each check runs on a fresh Python thread: py4j opens a new connection for
it (Nagle on), registered with the JVM's current callback client. The main
thread's connection predates the callback server that earlier tests start,
so its JVM end is no longer reachable by thread."""

import threading

from pyspark import SparkContext

from spark_sql_flow_plugin_spark.functions import listener as L
from spark_sql_flow_plugin_spark.session import get_session, tune
from spark_sql_flow_plugin_spark.sinks import AdjacencyListSink


def _socket():
    """JVM end of the calling thread's py4j connection."""
    gateway = SparkContext._gateway
    return gateway.java_gateway_server.getCallbackClient().getPerThreadConnection().getSocket()


def _before_after(action) -> tuple:
    """(Nagle off before, Nagle off after) ``action`` on a fresh thread."""
    seen = {}

    def run():
        try:
            sock = _socket()  # held: the action may start the callback server
            seen["before"] = sock.getTcpNoDelay()
            action()
            seen["after"] = sock.getTcpNoDelay()
        except Exception as exc:  # surfaced by the assert below
            seen["error"] = exc

    t = threading.Thread(target=run)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive()
    assert "error" not in seen, seen.get("error")
    return seen["before"], seen["after"]


def test_get_session_turns_nagle_off(spark):
    assert _before_after(lambda: get_session("tests", cpus=8)) == (False, True)


def test_tune_turns_nagle_off_on_a_vanilla_session(spark):
    # a session get_session never built, as a driver would hand us
    assert _before_after(lambda: tune(spark.newSession())) == (False, True)


def test_register_turns_nagle_off(spark, tmp_path):
    listeners = []
    before_after = _before_after(
        lambda: listeners.append(L.register(spark, AdjacencyListSink(), str(tmp_path)))
    )
    L.unregister(spark, listeners[0])
    assert before_after == (False, True)


def test_listener_callback_connection_nagle_off(spark, tmp_path):
    states = []

    class Probe(L.SQLFlowListener):
        def onSuccess(self, funcName, qe, durationNs):  # noqa: N802
            if not states:
                # start from Nagle on, whatever earlier listeners did on
                # this callback thread
                L._callback_thread.no_delay = False
                _socket().setTcpNoDelay(False)
                states.append(_socket().getTcpNoDelay())
            super().onSuccess(funcName, qe, durationNs)
            states.append(_socket().getTcpNoDelay())

    probe = Probe(AdjacencyListSink(), str(tmp_path))
    L._start_callback_server(spark)
    spark._jsparkSession.listenerManager().register(probe)
    try:
        spark.range(10).selectExpr("id * 2 AS x").collect()
        spark.range(5).count()
        L.wait_for_listener_bus(spark)
    finally:
        L.unregister(spark, probe)
    assert probe.captured >= 1
    assert states[0] is False and len(states) >= 3 and all(states[1:]), states
