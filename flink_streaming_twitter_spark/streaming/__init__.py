from .runner import start_query
from .sinks import influx_line, influx_lines_foreach_batch, to_influx_points

__all__ = [
    "start_query",
    "influx_line",
    "influx_lines_foreach_batch",
    "to_influx_points",
]
