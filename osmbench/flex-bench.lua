-- Flex configuration of the import-flex-lua workload: one table per
-- kind of feature the generated world holds.

local points = osm2pgsql.define_node_table('points', {
    { column = 'kind', type = 'text' },
    { column = 'name', type = 'text' },
    { column = 'geom', type = 'point', not_null = true },
})

local lines = osm2pgsql.define_way_table('lines', {
    { column = 'highway', type = 'text' },
    { column = 'name', type = 'text' },
    { column = 'length', type = 'real' },
    { column = 'geom', type = 'linestring', not_null = true },
})

local areas = osm2pgsql.define_area_table('areas', {
    { column = 'kind', type = 'text' },
    { column = 'area', type = 'real' },
    { column = 'geom', type = 'geometry', not_null = true },
})

local routes = osm2pgsql.define_relation_table('routes', {
    { column = 'ref', type = 'text' },
    { column = 'length', type = 'real' },
    { column = 'geom', type = 'multilinestring', not_null = true },
})

function osm2pgsql.process_node(object)
    local t = object.tags
    local kind = t.amenity or t.shop or t.tourism
    if t.highway == 'bus_stop' then
        kind = 'bus_stop'
    end
    if kind then
        points:insert({ kind = kind, name = t.name, geom = object:as_point() })
    end
end

function osm2pgsql.process_way(object)
    local t = object.tags
    if t.highway then
        local g = object:as_linestring()
        lines:insert({ highway = t.highway, name = t.name,
                       length = g:length(), geom = g })
    elseif t.building and object.is_closed then
        local g = object:as_polygon()
        areas:insert({ kind = 'building', area = g:area(), geom = g })
    end
end

function osm2pgsql.process_relation(object)
    local t = object.tags
    if t.type == 'multipolygon' then
        local g = object:as_multipolygon()
        areas:insert({ kind = t.landuse or t.natural or t.leisure,
                       area = g:area(), geom = g })
    elseif t.type == 'route' then
        local g = object:as_multilinestring()
        routes:insert({ ref = t.ref, length = g:length(), geom = g })
    end
end
