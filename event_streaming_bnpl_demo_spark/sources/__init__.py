from .tables import (edge_layout_partitions, fits_broadcast,  # noqa: F401
                     load_table, maybe_broadcast, register_views, spread,
                     table_path)
from .events import read_event_stream, read_event_batch      # noqa: F401
from .bucketed import write_bucketed                         # noqa: F401
